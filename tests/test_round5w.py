"""Round-5 twenty-third batch: bucketed-layout join — differential
replay plus the physical-plan contract (the bucketed join plans ZERO
shuffle exchanges while the identical unbucketed join plans two)."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def test_bucketed_join_matches_pure_python_and_plans_no_shuffle(spark):
    status = {
        r["o_orderkey"]: r["o_orderstatus"]
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    agg: dict = defaultdict(lambda: [0, 0])
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        a = agg[status[r["l_orderkey"]]]
        a[0] += 1
        a[1] += _round_half_away(r["l_extendedprice"] * 100)
    rows = REGISTRY["layout_bucketed_join"].fn(spark, SF_SMOKE).collect()
    got = {r["status"]: [r["n_lines"], r["revenue_cents"]] for r in rows}
    assert got == {k: v for k, v in agg.items()}
    # the hash-gated physical contract: the join moved no rows
    assert all(r["join_shuffle_exchanges"] == 0 for r in rows)
    # and the layout is what eliminated them: the identical unbucketed
    # merge join plans shuffle exchanges
    o = table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderstatus")
    li = table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    j = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    plan = j._jdf.queryExecution().executedPlan().toString()
    unbucketed = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert unbucketed >= 2
