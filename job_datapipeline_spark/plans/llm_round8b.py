"""Round-8 second batch: physical-layout operators — the levers that
decide whether a 100 TB scan reads 100 TB or 1 TB.

- Partition stats collection: per-partition min/max/ndv/rowcount (what
  an Iceberg/Delta manifest stores) plus the pruning verdict a given
  predicate would get from those stats — zone-map pruning as a query.
- Range-partitioner boundaries: exact equi-depth split points via the
  operators/ranks rank-pick primitives (the distributed device behind
  Spark's own RangePartitioner sampling, made exact), with the
  closed-form per-bucket row counts that prove the balance.
- Dynamic partition pruning: a month-partitioned fact joined to a
  filtered calendar dim; Catalyst inserts a DynamicPruningExpression in
  the fact scan so only the dim-selected partitions are read at RUNTIME
  (the star-schema pruning static PartitionFilters can't do) —
  asserted by tests/test_scale_shapes.py against the executed plan.

Reference parity: the reference's only layout trick is date-stamped
filenames picked by LastModified (data_populator/populator.py:22);
these are the lakehouse-scale generalizations.  All stats are exact
integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import literal_dim, table

from .queries import _scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# Partition stats + zone-map pruning verdict
# ---------------------------------------------------------------------------

_ZONE_LO, _ZONE_HI = 1_000, 5_000  # the probe predicate's l_orderkey band

@register(
    "layout_partition_stats",
    oracle=f"""
    SELECT strftime(date_trunc('month', CAST(l_shipdate AS DATE)), '%Y-%m')
               AS ship_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS ndv_suppkey,
           (max(l_orderkey) < {_ZONE_LO} OR min(l_orderkey) > {_ZONE_HI})
               AS prunable
    FROM lineitem
    GROUP BY 1 ORDER BY 1
    """,
    doc="Partition-stats collection — the per-partition min/max/ndv/"
        "rowcount frame an Iceberg/Delta manifest (or a zone map) "
        "stores, computed in ONE partial-aggregatable pass over the "
        "fact, plus the pruning verdict the predicate "
        f"l_orderkey BETWEEN {_ZONE_LO} AND {_ZONE_HI} would get from "
        "those stats alone (prunable = the band misses the partition's "
        "[min, max] entirely — the exact test a scan planner runs "
        "against every manifest entry before opening a file). The "
        "100 TB shape: stats collection is the cheap side of the "
        "trade — one aggregate at ingest buys every later query the "
        "right to skip files; ndv via exact count(distinct) here, "
        "approx_count_distinct at real manifest scale (the "
        "agg_approx_distinct escalation).",
)
def layout_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias(
                "ship_month"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
            F.countDistinct("l_suppkey").cast("bigint").alias("ndv_suppkey"),
        )
        .select(
            "ship_month",
            "n_rows",
            "min_orderkey",
            "max_orderkey",
            "ndv_suppkey",
            (
                (F.col("max_orderkey") < _ZONE_LO)
                | (F.col("min_orderkey") > _ZONE_HI)
            ).alias("prunable"),
        )
        .orderBy("ship_month")
    )

# ---------------------------------------------------------------------------
# Exact range-partitioner boundaries
# ---------------------------------------------------------------------------

_N_BUCKETS = 16

@register(
    "layout_range_boundaries",
    oracle=f"""
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    ranked AS (
        SELECT l_orderkey AS v,
               row_number() OVER (ORDER BY l_orderkey) AS rn
        FROM lineitem
    ),
    idx AS (SELECT unnest(generate_series(1, {_N_BUCKETS - 1})) AS i)
    SELECT CAST(idx.i AS INT) AS boundary_idx,
           CAST((idx.i * t.n) // {_N_BUCKETS} AS BIGINT) AS boundary_rank,
           CAST(r.v AS BIGINT) AS boundary_value,
           CAST((idx.i * t.n) // {_N_BUCKETS}
                - ((idx.i - 1) * t.n) // {_N_BUCKETS} AS BIGINT)
               AS bucket_rows
    FROM idx CROSS JOIN tot t
    JOIN ranked r ON r.rn = (idx.i * t.n) // {_N_BUCKETS}
    ORDER BY boundary_idx
    """,
    doc=f"Exact equi-depth range-partitioner boundaries — the "
        f"{_N_BUCKETS}-way split points of lineitem by l_orderkey, "
        "picked at exact global ranks floor(i*n/16) via operators/"
        "ranks.exact_rank_values: only the handful of range partitions "
        "whose offset span contains a requested rank enter a sort, so "
        "no global sort and no single-partition window exist anywhere "
        "in the plan (this is Spark's own RangePartitioner sampling "
        "step, made exact — reservoir sampling gives approximate "
        "boundaries; writers that must guarantee balanced output files "
        "need the exact form). Per-bucket row counts come CLOSED-FORM "
        "from the rank arithmetic (floor(i*n/B) - floor((i-1)*n/B)) — "
        "the balance proof costs nothing. Ranks use native shiftright "
        "(B is a power of two) — exact at any bigint scale and "
        "whole-stage-codegen fast, vs the decimal int_div's measured "
        "2.5-3x per-row cost. The 100 TB shape: two narrow passes over the "
        "key column; boundaries then drive a write.repartitionByRange.",
)
def layout_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import exact_rank_values

    li = table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("v"))
    # the rank expressions evaluate PER ROW over every candidate
    # partition, so they must stay native-bigint: _N_BUCKETS is a power
    # of two, and shiftright(n*i, log2(B)) == (n*i) div B exactly at any
    # bigint scale — measured 2.5-3x faster than the decimal-backed
    # int_div on the sf0.1 keep-predicate scan (the exact_ntile lesson)
    shift = _N_BUCKETS.bit_length() - 1
    assert 1 << shift == _N_BUCKETS
    ranks = [
        (lambda n, i=i: F.shiftright(n * i, shift))
        for i in range(1, _N_BUCKETS)
    ]
    picked = exact_rank_values(
        li, ["v"], ranks, rn_col="boundary_rank", total_col="n_total"
    )
    idx = literal_dim(
        spark,
        [(i,) for i in range(1, _N_BUCKETS)],
        "boundary_idx int",
    )
    return (
        picked.join(
            F.broadcast(idx),
            F.col("boundary_rank")
            == F.shiftright(
                F.col("n_total") * F.col("boundary_idx"), shift
            ),
        )
        .select(
            "boundary_idx",
            F.col("boundary_rank").cast("bigint"),
            F.col("v").cast("bigint").alias("boundary_value"),
            (
                F.shiftright(F.col("n_total") * F.col("boundary_idx"), shift)
                - F.shiftright(
                    F.col("n_total") * (F.col("boundary_idx") - 1), shift
                )
            )
            .cast("bigint")
            .alias("bucket_rows"),
        )
        .orderBy("boundary_idx")
    )

# ---------------------------------------------------------------------------
# Dynamic partition pruning
# ---------------------------------------------------------------------------

_QUARTERS = {
    "01": "Q1", "02": "Q1", "03": "Q1",
    "04": "Q2", "05": "Q2", "06": "Q2",
    "07": "Q3", "08": "Q3", "09": "Q3",
    "10": "Q4", "11": "Q4", "12": "Q4",
}

def _calendar_rows() -> list[tuple[str, str]]:
    return [
        (f"{y}-{m}", _QUARTERS[m])
        for y in range(1990, 2011)  # covers every SF's order-date span
        for m in ("01", "02", "03", "04", "05", "06",
                  "07", "08", "09", "10", "11", "12")
    ]

def dpp_fact_and_dim(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Write orders month-partitioned to scratch, read it back as the
    fact, and build the month->quarter calendar dim (also via parquet so
    the dim side is a real relation DPP can subquery).  Shared with the
    scale-shape test that pins the DynamicPruningExpression."""
    import os

    root = _scratch_dir("dpp_prune")
    fact_path = os.path.join(root, "orders_by_month")
    dim_path = os.path.join(root, "calendar")
    o = table(spark, sf_dir, "orders").withColumn(
        "order_month",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM"),
    )
    # Cluster by the partition key before the partitioned write (guide §6):
    # each month lands in exactly one task, so the write produces one file
    # per month directory in parallel — without this the one-split orders
    # scan writes ~100 month files SEQUENTIALLY from a single task (and a
    # multi-task input would instead write tasks x months small files).
    o.repartition("order_month").write.mode("overwrite").partitionBy(
        "order_month"
    ).parquet(fact_path)
    literal_dim(
        spark, _calendar_rows(), "cal_month string, quarter string"
    ).coalesce(1).write.mode("overwrite").parquet(dim_path)
    return spark.read.parquet(fact_path), spark.read.parquet(dim_path)

@register(
    "layout_dpp_prune",
    oracle="""
    SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m')
               AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE month(CAST(o_orderdate AS DATE)) <= 3
    GROUP BY 1 ORDER BY 1
    """,
    doc="Dynamic partition pruning — the month-partitioned orders fact "
        "(written to scratch, so the gate certifies the round trip) "
        "joined to a calendar dim filtered to quarter = 'Q1': the "
        "filter lives on the DIM side, so static PartitionFilters "
        "can't prune the fact; Catalyst instead plants a "
        "DynamicPruningExpression in the fact's FileSourceScan and the "
        "selected months' directories are the only ones READ at "
        "runtime (asserted against the executed plan by tests/"
        "test_scale_shapes.py::test_dpp_fires_on_partitioned_fact). "
        "This is THE star-schema scan lever at 100 TB: a 7:1 calendar "
        "selectivity becomes a 7:1 I/O cut with no query rewrite. "
        "Exact cents; broadcast dim.",
)
def layout_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact, dim = dpp_fact_and_dim(spark, sf_dir)
    q1 = dim.where(F.col("quarter") == "Q1")
    return (
        fact.join(
            F.broadcast(q1), fact.order_month == q1.cal_month
        )
        .groupBy("order_month")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("order_month")
    )
