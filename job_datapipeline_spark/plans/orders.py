"""Order, supplier and part analytics over the TPC-H-ish tables:
snapshot diffs and SCD2 apply, incremental view maintenance, market
baskets, RFM / ABC / XYZ classes, survival, trend and seasonality fits,
compaction and backfill planners, marts, price waterfalls, scorecards,
concentration measures and FIFO allocation.

Money is summed in exact integer cents; each reported ratio is one
rounded IEEE division.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.rangejoin import interval_overlap_join
from ..operators.ranks import (
    exact_ntile,
    global_cumsum,
    global_row_number,
    int_div,
)
from .common import cum_small, scratch_dir
from .registry import register


# ---------------------------------------------------------------------------
# Snapshot diff (CDC)
# ---------------------------------------------------------------------------
#
# Snapshot diff (CDC): added/removed/changed between two versions of a
# table via full-outer join on the key + exact row-hash compare — the
# change-data-capture primitive every incremental pipeline needs. The
# v2 snapshot is derived in-plan by planting deterministic edits.

_DIFF_ADD_OFFSET = 1_000_000_000


@register(
    "snapshot_diff",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey AS k,
               md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
                   || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                   || '|' || CAST(o_orderdate AS VARCHAR)
                   || '|' || o_orderpriority) AS row_hash
        FROM orders
    ),
    v2_base AS (
        SELECT o_orderkey AS k,
               md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
                   || CAST(CAST(round(o_totalprice * 100)
                                + CASE WHEN o_orderkey % 89 = 0 THEN 100
                                       ELSE 0 END AS BIGINT) AS VARCHAR)
                   || '|' || CAST(o_orderdate AS VARCHAR)
                   || '|' || o_orderpriority) AS row_hash
        FROM orders
        WHERE o_orderkey % 97 <> 0
    ),
    v2 AS (
        SELECT * FROM v2_base
        UNION ALL
        SELECT o_orderkey + {_DIFF_ADD_OFFSET} AS k,
               md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
                   || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                   || '|' || CAST(o_orderdate AS VARCHAR)
                   || '|' || o_orderpriority) AS row_hash
        FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT COALESCE(v1.k, v2.k) AS o_orderkey,
           CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    WHERE v1.k IS NULL OR v2.k IS NULL OR v1.row_hash <> v2.row_hash
    """,
    doc="Snapshot diff — the CDC primitive: added / removed / changed "
        "rows between two versions of a keyed table, via full-outer join "
        "on the key and an exact md5 row-hash compare (doubles enter the "
        "hash as integer cents, so the hash is engine-exact). The v2 "
        "snapshot is derived in-plan with deterministic planted edits "
        "(every 97th key removed, every 89th price bumped one dollar, "
        "every 101st re-added under a shifted key), so the expected "
        "verdict set is exactly known. Unchanged rows are filtered out — "
        "the output is the delta, which is what downstream incremental "
        "consumers want. At 100 TB both sides bucket by the key "
        "(sources/sinks.py S10 layout) so the full-outer join is "
        "co-located and shuffle-free; the row hash collapses wide-row "
        "compare to one column, and column-level diff (WHICH field "
        "changed) is the documented extension: hash per column group "
        "instead of per row.",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def row_hash(cents_col: F.Column) -> F.Column:
        return F.md5(
            F.concat_ws(
                "|",
                F.col("o_custkey").cast("string"),
                "o_orderstatus",
                cents_col.cast("string"),
                F.col("o_orderdate").cast("string"),
                "o_orderpriority",
            )
        )

    # ONE scan of the fact table, checkpointed: v1 and both v2 branches
    # derive from it (in production v1/v2 are two physical snapshots;
    # here both come from one scan, so re-reading it would triple the
    # fact scan — the tools/audit_plans.py hazard).
    bumped = cents + F.when(F.col("o_orderkey") % 89 == 0, 100).otherwise(0)
    base = orders.select(
        "o_orderkey",
        row_hash(cents).alias("h1"),
        row_hash(bumped).alias("h2"),
    ).localCheckpoint()
    v1 = base.select(F.col("o_orderkey").alias("k"), F.col("h1").alias("row_hash"))
    v2 = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .select(F.col("o_orderkey").alias("k"), F.col("h2").alias("row_hash"))
        .unionAll(
            base.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + _DIFF_ADD_OFFSET).alias("k"),
                F.col("h1").alias("row_hash"),
            )
        )
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    return j.filter(
        F.col("a.k").isNull()
        | F.col("b.k").isNull()
        | (F.col("a.row_hash") != F.col("b.row_hash"))
    ).select(
        F.coalesce("a.k", "b.k").alias("o_orderkey"),
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------
#
# Incremental materialized-view maintenance (Gupta & Mumick 1995):
# consume a CDC delta (the snapshot_diff pattern) and apply per-group
# delta rules to an existing aggregate, verifying in-plan that the
# maintained view equals the full recompute.

_MV_ADD_OFFSET = 1_000_000_000  # snapshot_diff's re-key offset


@register(
    "mv_incremental_maintenance",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    v2 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(round(o_totalprice * 100)
                    + CASE WHEN o_orderkey % 89 = 0 THEN 100 ELSE 0 END
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + {_MV_ADD_OFFSET} AS k, o_orderstatus AS st,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 101 = 0
    ),
    mv1 AS (
        SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
        FROM v1 GROUP BY st
    ),
    delta AS (
        SELECT COALESCE(v1.st, v2.st) AS st,
               CASE WHEN v1.k IS NULL THEN 1
                    WHEN v2.k IS NULL THEN -1 ELSE 0 END AS dn,
               COALESCE(v2.cents, 0) - COALESCE(v1.cents, 0) AS ds
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
        WHERE v1.k IS NULL OR v2.k IS NULL OR v1.cents <> v2.cents
    ),
    dagg AS (
        SELECT st, CAST(sum(dn) AS BIGINT) AS dn,
               CAST(sum(ds) AS BIGINT) AS ds
        FROM delta GROUP BY st
    ),
    incr AS (
        SELECT COALESCE(mv1.st, dagg.st) AS st,
               COALESCE(mv1.n, 0) + COALESCE(dagg.dn, 0) AS n_incr,
               COALESCE(mv1.s, 0) + COALESCE(dagg.ds, 0) AS s_incr
        FROM mv1 FULL OUTER JOIN dagg ON mv1.st = dagg.st
    ),
    full2 AS (
        SELECT st, count(*) AS n_full, CAST(sum(cents) AS BIGINT) AS s_full
        FROM v2 GROUP BY st
    )
    SELECT f.st AS o_orderstatus,
           n_full, CAST(n_incr AS BIGINT) AS n_incr,
           s_full AS sum_cents_full, CAST(s_incr AS BIGINT) AS sum_cents_incr,
           (n_full = n_incr AND s_full = s_incr) AS match
    FROM full2 f JOIN incr i ON f.st = i.st
    ORDER BY o_orderstatus
    """,
    doc="Incremental materialized-view maintenance (Gupta & Mumick "
        "1995 delta rules): given the v1 per-status aggregate (n, "
        "sum_cents) and the CDC delta between v1 and v2 (the "
        "snapshot_diff planted-edit scheme: every 97th key removed, "
        "every 89th price bumped, every 101st re-added re-keyed), apply "
        "added:+1/+cents, removed:-1/-cents, changed:0/(new-old) per "
        "group and verify IN-PLAN that the maintained view equals the "
        "full v2 recompute — `match` must be TRUE on every row; the "
        "recompute column is the verification harness, not the "
        "production path. The 100 TB shape: the delta is orders of "
        "magnitude smaller than the table, so maintenance costs one "
        "tiny delta aggregate + a merge join on the group key instead "
        "of a full fact re-scan — count/sum/avg-style views maintain "
        "exactly this way (min/max need the documented per-group "
        "re-probe only when the current extremum is deleted). One "
        "physical scan of orders, localCheckpointed, derives v1, both "
        "v2 branches, and both aggregates; all arithmetic is exact "
        "integer cents.",
)
def mv_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).localCheckpoint()  # one fact scan feeds v1, v2, and both aggregates
    v1 = base.select(F.col("o_orderkey").alias("k"), "st", "cents")
    v2 = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            "st",
            (
                F.col("cents")
                + F.when(F.col("o_orderkey") % 89 == 0, 100).otherwise(0)
            ).alias("cents"),
        )
        .unionAll(
            base.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + _MV_ADD_OFFSET).alias("k"),
                "st",
                "cents",
            )
        )
    )
    mv1 = v1.groupBy("st").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("s")
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    delta = j.filter(
        F.col("a.k").isNull()
        | F.col("b.k").isNull()
        | (F.col("a.cents") != F.col("b.cents"))
    ).select(
        F.coalesce("a.st", "b.st").alias("st"),
        F.when(F.col("a.k").isNull(), 1)
        .when(F.col("b.k").isNull(), -1)
        .otherwise(0)
        .alias("dn"),
        (
            F.coalesce("b.cents", F.lit(0)) - F.coalesce("a.cents", F.lit(0))
        ).alias("ds"),
    )
    dagg = delta.groupBy("st").agg(
        F.sum("dn").cast("bigint").alias("dn"),
        F.sum("ds").cast("bigint").alias("ds"),
    )
    incr = (
        mv1.alias("m")
        .join(dagg.alias("d"), F.col("m.st") == F.col("d.st"), "full_outer")
        .select(
            F.coalesce("m.st", "d.st").alias("st"),
            (
                F.coalesce("m.n", F.lit(0)) + F.coalesce("d.dn", F.lit(0))
            ).alias("n_incr"),
            (
                F.coalesce("m.s", F.lit(0)) + F.coalesce("d.ds", F.lit(0))
            ).alias("s_incr"),
        )
    )
    full2 = v2.groupBy("st").agg(
        F.count("*").alias("n_full"),
        F.sum("cents").cast("bigint").alias("s_full"),
    )
    return (
        full2.alias("f")
        .join(F.broadcast(incr.alias("i")), F.col("f.st") == F.col("i.st"))
        .select(
            F.col("f.st").alias("o_orderstatus"),
            "n_full",
            F.col("n_incr").cast("bigint").alias("n_incr"),
            F.col("s_full").alias("sum_cents_full"),
            F.col("s_incr").cast("bigint").alias("sum_cents_incr"),
            (
                (F.col("n_full") == F.col("n_incr"))
                & (F.col("s_full") == F.col("s_incr"))
            ).alias("match"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Market-basket association rules
# ---------------------------------------------------------------------------
#
# Market-basket association rules (Apriori's first level): brand
# pairs co-occurring in an order, with support, directional
# confidence, and lift = N * c_ab / (c_a * c_b) — the same shape as
# PMI but over co-occurrence baskets instead of adjacency.

_BASKET_MIN_SUPPORT = 50
_BASKET_TOPK = 15


@register(
    "orders_market_basket",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_baskets AS (SELECT count(DISTINCT basket) AS n FROM items),
    item_counts AS (SELECT item, count(*) AS c FROM items GROUP BY item),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS support
        FROM items a JOIN items b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b, p.support,
           CAST(round(1000000.0 * p.support / ca.c) AS BIGINT)
               AS confidence_micro,
           CAST(round(1000000.0 * (n.n * p.support)
                      / (ca.c * cb.c)) AS BIGINT) AS lift_micro
    FROM pairs p
    JOIN item_counts ca ON ca.item = p.item_a
    JOIN item_counts cb ON cb.item = p.item_b
    CROSS JOIN n_baskets n
    WHERE p.support >= {_BASKET_MIN_SUPPORT}
    ORDER BY lift_micro DESC, item_a, item_b
    LIMIT {_BASKET_TOPK}
    """,
    doc="Market-basket association rules (Apriori's pairwise level): "
        "brand pairs co-occurring in an order, with support, "
        "directional confidence P(b|a) = support/c_a, and lift = "
        "N * c_ab / (c_a * c_b) — the retail-analytics canon, and the "
        "co-occurrence twin of text_pmi_collocations (baskets instead "
        "of adjacency; lift instead of log-ratio, so no transcendental "
        "at all — both divisions are single IEEE ops on exact bigint "
        "counts, rounded to micro-units). The 100 TB shape: the "
        "item-per-basket frame dedups map-side after a broadcast dim "
        "join, pair generation is a within-basket self-join whose cost "
        "is sum of basket_size^2 (baskets are small by nature — the "
        "same bounded-cell contract as the triangle counter), the pair "
        "aggregate is partial-aggregatable with key space bounded by "
        "item-vocabulary^2, and the marginal joins broadcast. ONE "
        "checkpointed items frame feeds baskets/marginals/pairs — the "
        "fact table is scanned once.",
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(
                table(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
        .localCheckpoint()  # feeds basket count, marginals, and pairs
    )
    n_baskets = items.agg(F.countDistinct("basket").alias("n"))
    item_counts = items.groupBy("item").agg(F.count("*").alias("c"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    ca = item_counts.select(
        F.col("item").alias("item_a"), F.col("c").alias("c_a")
    )
    cb = item_counts.select(
        F.col("item").alias("item_b"), F.col("c").alias("c_b")
    )
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "support",
            F.round(F.lit(1_000_000.0) * F.col("support") / F.col("c_a"))
            .cast("bigint")
            .alias("confidence_micro"),
            F.round(
                F.lit(1_000_000.0)
                * (F.col("n") * F.col("support"))
                / (F.col("c_a") * F.col("c_b"))
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "item_a", "item_b")
        .limit(_BASKET_TOPK)
    )


# ---------------------------------------------------------------------------
# SCD2 apply-changes
# ---------------------------------------------------------------------------
#
# SCD2 apply-changes (the warehouse MERGE-INTO-dimension workload):
# given the current dimension and a CDC change set (planted edits, the
# snapshot_diff pattern), emit the slowly-changing-dimension type-2
# result — changed keys get their current row closed and a new
# version opened, inserts get a first version, untouched keys pass
# through — with validity windows, version numbers, and is_current
# flags. Complements events_scd2_islands (which DERIVES intervals
# from an event log; this APPLIES a delta to a dimension).

_SCD2_OPEN = "2024-01-01"
_SCD2_CHANGE = "2024-06-01"
_SCD2_INSERT_OFFSET = 5_000_000


@register(
    "scd2_apply_changes",
    oracle=f"""
    WITH dim AS (
        SELECT c_custkey AS k, c_mktsegment AS segment FROM customer
    ),
    changes AS (
        SELECT k, 'DRIFTED' AS segment, 'update' AS op
        FROM dim WHERE k % 7 = 0
        UNION ALL
        SELECT k + {_SCD2_INSERT_OFFSET}, 'FRESH', 'insert'
        FROM dim WHERE k % 11 = 0 AND k % 7 <> 0
    ),
    closed AS (
        SELECT d.k, d.segment,
               DATE '{_SCD2_OPEN}' AS valid_from,
               DATE '{_SCD2_CHANGE}' AS valid_to,
               CAST(1 AS BIGINT) AS version, FALSE AS is_current
        FROM dim d JOIN changes c ON c.k = d.k AND c.op = 'update'
    ),
    reopened AS (
        SELECT c.k, c.segment,
               DATE '{_SCD2_CHANGE}' AS valid_from,
               CAST(NULL AS DATE) AS valid_to,
               CAST(2 AS BIGINT) AS version, TRUE AS is_current
        FROM changes c WHERE c.op = 'update'
    ),
    inserted AS (
        SELECT c.k, c.segment,
               DATE '{_SCD2_CHANGE}' AS valid_from,
               CAST(NULL AS DATE) AS valid_to,
               CAST(1 AS BIGINT) AS version, TRUE AS is_current
        FROM changes c WHERE c.op = 'insert'
    ),
    untouched AS (
        SELECT d.k, d.segment,
               DATE '{_SCD2_OPEN}' AS valid_from,
               CAST(NULL AS DATE) AS valid_to,
               CAST(1 AS BIGINT) AS version, TRUE AS is_current
        FROM dim d WHERE d.k % 7 <> 0
    )
    SELECT k AS c_custkey, segment,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(valid_to AS VARCHAR) AS valid_to,
           version, is_current
    FROM (
        SELECT * FROM closed
        UNION ALL SELECT * FROM reopened
        UNION ALL SELECT * FROM inserted
        UNION ALL SELECT * FROM untouched
    )
    """,
    doc="SCD2 apply-changes — the MERGE INTO slowly-changing-dimension "
        "workload: a CDC change set (planted: every 7th key's segment "
        "drifts, every 11th-not-7th key arrives as a new re-keyed "
        "customer — the snapshot_diff planted-edit device) is applied "
        "to the current dimension. Updates CLOSE the current row "
        "(valid_to = change date, is_current false) and OPEN version 2; "
        "inserts open version 1 at the change date; untouched keys pass "
        "through open-ended. Complements events_scd2_islands, which "
        "derives intervals from an event log — this operator maintains "
        "a dimension from a delta, the other half of the SCD2 "
        "lifecycle. The 100 TB shape: the change set is delta-sized and "
        "broadcast; the dimension is scanned ONCE (checkpointed, "
        "feeding the closed/untouched branches and the change "
        "derivation), so maintenance cost is O(dim scan + delta) with "
        "no shuffle on the dimension side — and at warehouse scale the "
        "dimension is partitioned by is_current so the rewrite touches "
        "only current rows (the documented layout). Validity dates "
        "render as strings for engine-exact comparison.",
)
def scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("segment"))
        .localCheckpoint()  # feeds changes, closed, and untouched branches
    )
    updates = dim.filter(F.col("k") % 7 == 0)
    inserts = dim.filter((F.col("k") % 11 == 0) & (F.col("k") % 7 != 0))
    open_d = F.lit(_SCD2_OPEN)
    change_d = F.lit(_SCD2_CHANGE)
    null_d = F.lit(None).cast("string")
    closed = updates.select(
        "k",
        "segment",
        open_d.alias("valid_from"),
        change_d.alias("valid_to"),
        F.lit(1).cast("bigint").alias("version"),
        F.lit(False).alias("is_current"),
    )
    reopened = updates.select(
        "k",
        F.lit("DRIFTED").alias("segment"),
        change_d.alias("valid_from"),
        null_d.alias("valid_to"),
        F.lit(2).cast("bigint").alias("version"),
        F.lit(True).alias("is_current"),
    )
    inserted = inserts.select(
        (F.col("k") + _SCD2_INSERT_OFFSET).alias("k"),
        F.lit("FRESH").alias("segment"),
        change_d.alias("valid_from"),
        null_d.alias("valid_to"),
        F.lit(1).cast("bigint").alias("version"),
        F.lit(True).alias("is_current"),
    )
    untouched = dim.filter(F.col("k") % 7 != 0).select(
        "k",
        "segment",
        open_d.alias("valid_from"),
        null_d.alias("valid_to"),
        F.lit(1).cast("bigint").alias("version"),
        F.lit(True).alias("is_current"),
    )
    return (
        closed.unionAll(reopened)
        .unionAll(inserted)
        .unionAll(untouched)
        .select(
            F.col("k").alias("c_custkey"),
            "segment",
            "valid_from",
            "valid_to",
            "version",
            "is_current",
        )
    )


# Float discipline (the queries module docstring): counts/cents are exact
# bigints; per-bucket ratios round to micro-units immediately; ECE composes
# from the already-rounded bucket stats so the fold is exact integer
# arithmetic.

# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------
#
# RFM segmentation (recency / frequency / monetary quintiles) — the
# classic customer-analytics operator, with fully pinned ntile ties.


@register(
    "orders_rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    per_cust AS (
        SELECT o_custkey AS k,
               datediff('day', max(o_orderdate), (SELECT mx FROM anchor))
                   AS recency_days,
               count(*) AS frequency,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT k,
               ntile(5) OVER (ORDER BY recency_days DESC, k) AS r_score,
               ntile(5) OVER (ORDER BY frequency, k) AS f_score,
               ntile(5) OVER (ORDER BY monetary_cents, k) AS m_score
        FROM per_cust
    )
    SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
               AS rfm_segment,
           count(*) AS n_customers,
           CAST(min(k) AS BIGINT) AS example_customer
    FROM scored
    GROUP BY 1 ORDER BY 1
    """,
    doc="RFM segmentation — the classic customer-analytics operator: "
        "per customer, recency (days from last order to the corpus "
        "anchor), frequency (order count), monetary (exact cents), each "
        "scored into quintiles by ntile(5) with FULLY PINNED ties "
        "(recency orders DESC so quintile 5 = most recent, all three "
        "break ties by customer key), composed into the familiar "
        "3-digit segment (555 = best). Output is the segment census. "
        "The 100 TB shape: one partial-aggregatable rollup collapses "
        "the fact table to the customer frame; each quintile EXECUTES "
        "as operators/ranks.exact_ntile — distributed row numbers "
        "(range partition + partitioned window + broadcast prefix "
        "offsets) turned into the exact SQL NTILE fill with a "
        "broadcast 1-row total — so no score moves the customer frame "
        "to a single partition. The 1-row anchor is a broadcast "
        "scalar, not a correlated re-scan.",
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .localCheckpoint()  # feeds the anchor AND the scoring windows
    )
    anchor = per_cust.agg(F.max("last_order").alias("mx"))
    base = (
        per_cust.crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("mx", "last_order"))
        .select("k", "recency_days", "frequency", "monetary_cents")
    )
    scored = exact_ntile(
        exact_ntile(
            exact_ntile(
                base,
                [F.col("recency_days").desc(), "k"],
                5,
                out_col="r_score",
            ),
            ["frequency", "k"],
            5,
            out_col="f_score",
        ),
        ["monetary_cents", "k"],
        5,
        out_col="m_score",
    ).select("k", "r_score", "f_score", "m_score")
    return (
        scored.groupBy(
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            )
            .cast("bigint")
            .alias("rfm_segment")
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.min("k").cast("bigint").alias("example_customer"),
        )
        .orderBy("rfm_segment")
    )


# ---------------------------------------------------------------------------
# Cohort LTV
# ---------------------------------------------------------------------------
#
# Cohort LTV: cumulative revenue per signup cohort x months-since-
# first-order — the money twin of events_retention_cohorts.


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey AS k, date_trunc('month', min(o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    cells AS (
        SELECT f.cohort,
               (year(o.o_orderdate) - year(f.cohort)) * 12
                   + (month(o.o_orderdate) - month(f.cohort)) AS month_idx,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN firsts f ON f.k = o.o_custkey
        GROUP BY 1, 2
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort, CAST(month_idx AS BIGINT)
               AS month_idx, cents,
           CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY month_idx
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_ltv_cents
    FROM cells
    ORDER BY cohort, month_idx
    """,
    doc="Cohort LTV: cumulative revenue per signup cohort (month of "
        "first order) x months-since-first-order — the money twin of "
        "events_retention_cohorts, and the matrix every growth "
        "dashboard draws. Month arithmetic is integer (year*12+month "
        "difference — no date subtraction ambiguity across engines); "
        "revenue is exact cents; the running LTV is an integer window "
        "cumsum per cohort. The 100 TB shape: the first-order frame is "
        "one partial-aggregatable rollup to the customer dimension, "
        "joined back to the fact on its key (co-partitioned at "
        "warehouse layout, the S10 bucketing), the cell aggregate "
        "collapses to cohorts x months (bounded by the calendar "
        "squared), and the cumsum window runs on that bounded frame — "
        "raw orders are scanned twice (rollup + join side) or once "
        "with the documented two-output form.",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).localCheckpoint()  # one fact scan feeds the rollup AND the join side
    firsts = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    cells = (
        orders.join(firsts, orders.o_custkey == firsts.k)
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") - F.year("cohort")) * 12
                + (F.month("o_orderdate") - F.month("cohort"))
            ).alias("month_idx"),
        )
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("month_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        F.col("month_idx").cast("bigint").alias("month_idx"),
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("cum_ltv_cents"),
    ).orderBy("cohort", "month_idx")


# ---------------------------------------------------------------------------
# ABC / Pareto classification
# ---------------------------------------------------------------------------
#
# ABC / Pareto classification (the 80/15/5 inventory rule): rank parts
# by revenue, classify by cumulative share with integer
# cross-multiplication thresholds (5*cum <= 4*total is "A") — no
# division anywhere near the class boundary.


@register(
    "orders_abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey AS part,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT part, cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, part
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cents
        FROM rev
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    classed AS (
        SELECT r.part, r.cents,
               CASE WHEN 5 * r.cum_cents <= 4 * t.total THEN 'A'
                    WHEN 20 * r.cum_cents <= 19 * t.total THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked r CROSS JOIN tot t
    )
    SELECT abc_class,
           count(*) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST(round(1000000.0 * sum(cents)
                      / (SELECT total FROM tot)) AS BIGINT) AS share_micro
    FROM classed
    GROUP BY abc_class ORDER BY abc_class
    """,
    doc="ABC / Pareto classification (the 80/15/5 inventory rule): "
        "parts ranked by revenue, class A while the running share stays "
        "within 80% of total, B to 95%, else C — with the class "
        "boundaries decided by integer CROSS-MULTIPLICATION (5*cum <= "
        "4*total, 20*cum <= 19*total), so no floating division sits "
        "anywhere near a classification boundary; the output shares are "
        "display-only rounded divisions. The 100 TB shape: one "
        "partial-aggregatable rollup collapses the fact table to the "
        "part dimension; the running sum EXECUTES as operators/"
        "ranks.global_cumsum (range partition on (cents DESC, part), "
        "partitioned per-partition running sums, broadcast prefix "
        "offsets) — no single-partition window anywhere in the plan; "
        "the totals scalar broadcasts. Output is the 3-row class "
        "census.",
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import global_cumsum

    rev = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()  # feeds the total AND the ranked cumsum
    )
    ranked = global_cumsum(
        rev, [F.col("cents").desc(), "part"], "cents", out_col="cum_cents"
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("total"))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "cents",
        "total",
        F.when(5 * F.col("cum_cents") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum_cents") <= 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.round(
                F.lit(1_000_000.0) * F.sum("cents") / F.any_value("total")
            )
            .cast("bigint")
            .alias("share_micro"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Inter-purchase gap percentiles
# ---------------------------------------------------------------------------
#
# Inter-purchase gap percentiles per market segment: lag gaps per
# customer, then exact p50/p90 via the same cumsum-threshold device
# over the gap-value frame — purchase-cadence analytics.


@register(
    "orders_interpurchase_gaps",
    oracle="""
    WITH seq AS (
        SELECT o_custkey AS k,
               datediff('day',
                        lag(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate,
                                                        o_orderkey),
                        o_orderdate) AS gap
        FROM orders
    ),
    gaps AS (
        SELECT c.c_mktsegment AS segment, s.gap
        FROM seq s JOIN customer c ON c.c_custkey = s.k
        WHERE s.gap IS NOT NULL
    ),
    grouped AS (
        SELECT segment, gap, count(*) AS n FROM gaps GROUP BY segment, gap
    ),
    cum AS (
        SELECT segment, gap, n,
               CAST(sum(n) OVER (PARTITION BY segment ORDER BY gap
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_n
        FROM grouped
    ),
    tot AS (SELECT segment, CAST(sum(n) AS BIGINT) AS total FROM grouped
            GROUP BY segment)
    SELECT c.segment,
           CAST(min(c.gap) FILTER (WHERE 2 * c.cum_n >= t.total) AS BIGINT)
               AS p50_gap_days,
           CAST(min(c.gap) FILTER (WHERE 10 * c.cum_n >= 9 * t.total)
                AS BIGINT) AS p90_gap_days,
           CAST(min(t.total) AS BIGINT) AS n_gaps,
           CAST(max(c.gap) AS BIGINT) AS max_gap_days
    FROM cum c JOIN tot t ON t.segment = c.segment
    GROUP BY c.segment
    ORDER BY c.segment
    """,
    doc="Inter-purchase gap percentiles per market segment: per "
        "customer, gaps between consecutive orders (pinned order "
        "(date, key)); per segment, exact p50/p90 gap via the "
        "cumsum-threshold device with integer cross-multiplication "
        "(2*cum >= total, 10*cum >= 9*total — the lower percentile, "
        "no interpolation) — purchase-cadence analytics, the input to "
        "churn windows and replenishment models. The 100 TB shape: one "
        "customer-hash shuffle for the lag window, a broadcast dim "
        "join for the segment, then everything runs on the (segment, "
        "gap-value) frame — bounded by the gap domain in days — via "
        "one partial-aggregatable rollup; same device, same bound, as "
        "agg_weighted_median. All arithmetic exact.",
)
def orders_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap"),
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("segment")
    )
    gaps = seq.filter(F.col("gap").isNotNull()).join(F.broadcast(cust), "k")
    grouped = (
        gaps.groupBy("segment", "gap")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # feeds the totals AND the cumsum
    )
    win = (
        Window.partitionBy("segment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grouped.withColumn("cum_n", F.sum("n").over(win).cast("bigint"))
    tot = grouped.groupBy("segment").agg(F.sum("n").cast("bigint").alias("total"))
    return (
        cum.join(F.broadcast(tot), "segment")
        .groupBy("segment")
        .agg(
            F.min(F.when(2 * F.col("cum_n") >= F.col("total"), F.col("gap")))
            .cast("bigint")
            .alias("p50_gap_days"),
            F.min(
                F.when(10 * F.col("cum_n") >= 9 * F.col("total"), F.col("gap"))
            )
            .cast("bigint")
            .alias("p90_gap_days"),
            F.min("total").cast("bigint").alias("n_gaps"),
            F.max("gap").cast("bigint").alias("max_gap_days"),
        )
        .orderBy("segment")
    )


# Float discipline (the queries module docstring): deltas, counts and cents
# are exact bigints; breach flags cross-multiply; each reported ratio is a
# single rounded IEEE division.

# ---------------------------------------------------------------------------
# Open-interval sweep-line
# ---------------------------------------------------------------------------
#
# Open-interval sweep-line: how many line items are OPEN (ordered,
# not yet shipped) over time — the +1/-1 event-differencing device
# (order date opens, ship date closes) with a running sum over the
# date spine, reported per month with the in-month peak. This is the
# concurrency/backlog/inventory operator (concurrent sessions, open
# tickets, in-flight inventory all reduce to it), and it turns an
# O(intervals x days) membership question into O(2 x intervals)
# deltas + one bounded cumsum.


@register(
    "orders_open_interval_sweep",
    oracle="""
    WITH intervals AS (
        SELECT CAST(o.o_orderdate AS DATE) AS open_d,
               CAST(l.l_shipdate AS DATE) AS close_d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    deltas AS (
        SELECT open_d AS day, CAST(count(*) AS BIGINT) AS delta
        FROM intervals GROUP BY open_d
        UNION ALL
        SELECT close_d, -CAST(count(*) AS BIGINT)
        FROM intervals GROUP BY close_d
    ),
    daily AS (
        SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY day
    ),
    running AS (
        SELECT day, net,
               CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS open_now
        FROM daily
    )
    SELECT strftime(date_trunc('month', day), '%Y-%m') AS month,
           CAST(sum(net) AS BIGINT) AS net_change,
           CAST(max(open_now) AS BIGINT) AS peak_open,
           CAST(arg_max(open_now, day) AS BIGINT) AS month_end_open
    FROM running
    GROUP BY 1 ORDER BY month
    """,
    doc="Open-interval sweep-line: line items open (ordered, not yet "
        "shipped) over time via the +1/-1 event-differencing device — "
        "each interval contributes one +1 delta at its order date and "
        "one -1 at its ship date, the per-day net aggregates "
        "map-side, and ONE running sum over the date spine yields the "
        "open count at every day; reported per month with the in-month "
        "peak and the month-end level (arg_max by day — the latest "
        "day's running value). Concurrent sessions, open tickets, and "
        "in-flight inventory are all this operator. The 100 TB shape: "
        "the join is fact-to-fact on the order key (co-partitioned "
        "under the S10 bucketing layout), deltas partial-aggregate to "
        "the DATE-DOMAIN frame (calendar-bounded), and the only sort "
        "is over that bounded spine — O(2 x intervals) map work "
        "instead of the O(intervals x days) membership explosion a "
        "naive day-join would pay. All counts exact.",
)
def orders_open_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    intervals = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderdate").cast("date").alias("open_d"),
        F.col("l_shipdate").cast("date").alias("close_d"),
    )
    opens = intervals.groupBy(F.col("open_d").alias("day")).agg(
        F.count("*").cast("bigint").alias("delta")
    )
    closes = intervals.groupBy(F.col("close_d").alias("day")).agg(
        (-F.count("*")).cast("bigint").alias("delta")
    )
    daily = (
        opens.unionAll(closes)
        .groupBy("day")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = daily.withColumn("open_now", F.sum("net").over(w).cast("bigint"))
    return (
        running.groupBy(F.date_format("day", "yyyy-MM").alias("month"))
        .agg(
            F.sum("net").cast("bigint").alias("net_change"),
            F.max("open_now").cast("bigint").alias("peak_open"),
            F.max_by("open_now", "day").cast("bigint").alias("month_end_open"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Seasonality index
# ---------------------------------------------------------------------------
#
# Seasonality index: per calendar-month revenue index vs the overall
# daily average, computed as a ratio of bigint cross-products (one
# rounded IEEE division at the end) — the first seasonal-profile
# pass every demand model runs.


@register(
    "orders_seasonality_index",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    monthly AS (
        SELECT month(day) AS cal_month,
               CAST(sum(cents) AS BIGINT) AS s_m,
               count(*) AS d_m
        FROM daily GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(s_m) AS BIGINT) AS s_all,
               CAST(sum(d_m) AS BIGINT) AS d_all
        FROM monthly
    )
    SELECT CAST(m.cal_month AS BIGINT) AS cal_month,
           m.s_m AS revenue_cents,
           CAST(m.d_m AS BIGINT) AS n_days,
           CAST(round(1000000.0 * (m.s_m * t.d_all)
                      / (m.d_m * t.s_all)) AS BIGINT) AS index_micro
    FROM monthly m CROSS JOIN tot t
    ORDER BY cal_month
    """,
    doc="Seasonality index: per calendar month, the ratio of the "
        "month's average DAILY revenue to the overall average daily "
        "revenue — index 1e6 = an average month; the first "
        "seasonal-profile pass every demand model runs. The ratio of "
        "two rationals (s_m/d_m) / (s_all/d_all) is computed as ONE "
        "division of exact bigint cross-products s_m*d_all / "
        "(d_m*s_all), rounded immediately — no intermediate averages, "
        "no compounding float error. Day counts (not raw revenue "
        "shares) normalize the index so unequal month lengths and "
        "partial first/last months do not bias it. The 100 TB shape: "
        "daily rollup partial-aggregates to the calendar frame, the "
        "monthly rollup and totals are calendar-sized, and the 1-row "
        "totals broadcast back.",
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    monthly = (
        daily.groupBy(F.month("day").alias("cal_month"))
        .agg(
            F.sum("cents").cast("bigint").alias("s_m"),
            F.count("*").alias("d_m"),
        )
        .localCheckpoint()  # feeds the totals AND the index rows
    )
    tot = monthly.agg(
        F.sum("s_m").cast("bigint").alias("s_all"),
        F.sum("d_m").cast("bigint").alias("d_all"),
    )
    return (
        monthly.crossJoin(F.broadcast(tot))
        .select(
            F.col("cal_month").cast("bigint").alias("cal_month"),
            F.col("s_m").alias("revenue_cents"),
            F.col("d_m").cast("bigint").alias("n_days"),
            F.round(
                F.lit(1_000_000.0)
                * (F.col("s_m") * F.col("d_all"))
                / (F.col("d_m") * F.col("s_all"))
            )
            .cast("bigint")
            .alias("index_micro"),
        )
        .orderBy("cal_month")
    )


# Float discipline (the queries module docstring): counts/cents/products are
# exact bigints; folds are either exact-integer or bit-replayable IEEE; each
# reported ratio is a single rounded IEEE division.

# ---------------------------------------------------------------------------
# Kaplan-Meier repeat-purchase survival
# ---------------------------------------------------------------------------
#
# Kaplan-Meier survival of the first->second purchase gap with a
# 52-week censoring horizon: the product-limit estimator folded in
# EXACT integer micro-units, S_t = (S_{t-1} * (n_t - d_t)) // n_t,
# each step packed into one bigint (n*1e6 + d) so the fold is a pure
# bigint left fold both engines replay identically.

_KM_HORIZON_WEEKS = 52  # repeats later than a year are right-censored
_KM_PACK = 1_000_000  # step encoding n*PACK + d; requires n, d < PACK


@register(
    "orders_survival_km",
    oracle=f"""
    WITH ranked AS (
        SELECT o_custkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rk
        FROM orders
    ),
    cust AS (
        SELECT o_custkey,
               min(CASE WHEN rk = 1 THEN o_orderdate END) AS d1,
               min(CASE WHEN rk = 2 THEN o_orderdate END) AS d2
        FROM ranked WHERE rk <= 2 GROUP BY 1
    ),
    units AS (
        SELECT CASE WHEN d2 IS NOT NULL
                         AND date_diff('day', d1, d2) // 7
                             <= {_KM_HORIZON_WEEKS}
                    THEN date_diff('day', d1, d2) // 7
                    ELSE {_KM_HORIZON_WEEKS} END AS week,
               (d2 IS NOT NULL AND date_diff('day', d1, d2) // 7
                    <= {_KM_HORIZON_WEEKS}) AS is_event
        FROM cust
    ),
    weekly AS (
        SELECT CAST(week AS BIGINT) AS week,
               CAST(count(*) FILTER (WHERE is_event) AS BIGINT) AS d,
               CAST(count(*) FILTER (WHERE NOT is_event) AS BIGINT) AS c
        FROM units GROUP BY 1
    ),
    risk AS (
        SELECT week, d, c,
               CAST((SELECT count(*) FROM units)
                    - (sum(d + c) OVER (ORDER BY week
                                        ROWS UNBOUNDED PRECEDING)
                       - (d + c)) AS BIGINT) AS n_at_risk
        FROM weekly
    ),
    packed AS (
        SELECT list(struct_pack(
                   week := week,
                   nd := n_at_risk * {_KM_PACK} + d) ORDER BY week) AS l
        FROM risk
    ),
    expanded AS (
        SELECT l, unnest(generate_series(1, len(l))) AS t FROM packed
    )
    SELECT r.week, r.d AS n_events, r.c AS n_censored, r.n_at_risk,
           list_reduce(
               list_prepend(CAST({_KM_PACK} AS BIGINT),
                            list_transform(e.l[1:e.t], s -> s.nd)),
               (acc, x) -> (acc * ((x // {_KM_PACK}) - (x % {_KM_PACK})))
                           // (x // {_KM_PACK})) AS surv_micro
    FROM expanded e JOIN risk r ON r.week = e.l[e.t].week
    ORDER BY r.week
    """,
    doc="Kaplan-Meier product-limit survival of the first->second "
        f"purchase gap (weeks, {_KM_HORIZON_WEEKS}-week censoring "
        "horizon; customers whose repeat falls beyond it are right-"
        "censored at the horizon, the standard events-before-censors "
        "tie convention). The estimator S_t = prod(1 - d_i/n_i) is "
        "folded in EXACT integer micro-units — S_t = (S_t-1 * (n_t - "
        "d_t)) // n_t, each step packed into ONE bigint n*1e6+d so "
        "the fold (Spark F.aggregate / oracle list_reduce with a "
        "prepended 1e6 init) is pure bigint arithmetic both engines "
        "replay identically; max intermediate 1e6*1e6 = 1e12 also "
        "sits inside the 2^53 window Spark's floor(a/b) uses. "
        "Truncation loses <1 micro per step, deterministically. The "
        "100 TB shape: one window over orders yields first/second "
        "dates, units partial-aggregate to the 53-row week frame, and "
        "the rest is ONE linear plan over that frame with no "
        "checkpoint: the total is an unpartitioned window sum over "
        "the 53 rows, n_at_risk a running window sum, and each step's "
        "survival an F.aggregate over a running-window collect_list "
        "(ROWS UNBOUNDED PRECEDING, ordered by the unique week, so "
        "every prefix is deterministic); the n<1e6 packing ceiling "
        "is per-COHORT at-risk count — shard the curve by cohort "
        "(signup month) long before 1e6, as every retention system "
        "does anyway.",
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 2)
    cust = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rk") == 1, F.col("o_orderdate"))).alias("d1"),
        F.min(F.when(F.col("rk") == 2, F.col("o_orderdate"))).alias("d2"),
    )
    gap_w = F.floor(F.datediff(F.col("d2"), F.col("d1")) / 7)
    is_event = F.col("d2").isNotNull() & (gap_w <= _KM_HORIZON_WEEKS)
    units = cust.select(
        F.when(is_event, gap_w)
        .otherwise(F.lit(_KM_HORIZON_WEEKS))
        .cast("bigint")
        .alias("week"),
        is_event.alias("is_event"),
    )
    weekly = units.groupBy("week").agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when(F.col("is_event"), 0).otherwise(1))
        .cast("bigint")
        .alias("c"),
    )
    # The windows below see only the 53 week rows; week is unique, so each
    # running collect_list prefix is in week order and deterministic.
    exits = F.col("d") + F.col("c")
    everything = Window.partitionBy()
    cum = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = weekly.select(
        "week",
        "d",
        "c",
        (F.sum(exits).over(everything) - (F.sum(exits).over(cum) - exits))
        .cast("bigint")
        .alias("n_at_risk"),
    )
    pack_lit = F.lit(_KM_PACK).cast("long")
    surv = F.aggregate(
        F.collect_list(F.col("n_at_risk") * _KM_PACK + F.col("d")).over(cum),
        pack_lit,
        lambda acc, x: F.floor(
            (acc * (F.floor(x / pack_lit) - F.pmod(x, pack_lit)))
            / F.floor(x / pack_lit)
        ).cast("long"),
    )
    return risk.select(
        "week",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        "n_at_risk",
        surv.alias("surv_micro"),
    ).orderBy("week")


# ---------------------------------------------------------------------------
# Per-nation OLS revenue trend
# ---------------------------------------------------------------------------
#
# Per-nation monthly revenue OLS trend: slope/intercept/R^2 from the
# five classic power sums kept as EXACT bigints (whole dollars x
# month index), combined by integer cross-multiplication; each
# reported figure is one final rounded IEEE division.


@register(
    "orders_trend_ols",
    oracle="""
    WITH monthly AS (
        SELECT n.n_name AS nation,
               CAST((year(o.o_orderdate) - 1995) * 12
                    + (month(o.o_orderdate) - 1) AS BIGINT) AS x,
               CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    sums AS (
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM monthly GROUP BY 1
    )
    SELECT nation, n,
           CAST(round(1000000.0 * (n * sxy - sx * sy)
                      / (n * sxx - sx * sx)) AS BIGINT) AS slope_micro,
           CAST(round(1000000.0
                      * (CAST(sy AS DOUBLE) * (n * sxx - sx * sx)
                         - CAST(n * sxy - sx * sy AS DOUBLE) * sx)
                      / (CAST(n AS DOUBLE) * (n * sxx - sx * sx)))
                AS BIGINT) AS intercept_micro,
           CAST(round(1000000.0
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)))
                AS BIGINT) AS r2_micro
    FROM sums ORDER BY nation
    """,
    doc="Per-nation monthly revenue OLS trend line: slope (whole "
        "dollars/month), intercept, and R^2 from the five classic "
        "power sums n, Sx, Sy, Sxy, Sxx, Syy — every sum an EXACT "
        "bigint (x = month index since 1995-01, y = WHOLE dollars so "
        "Syy stays inside int64 through ~sf1; escalate y to "
        "decimal(38) beyond), every numerator/denominator an integer "
        "cross-product (n*Sxy - Sx*Sy etc.), and each reported figure "
        "ONE rounded IEEE division — the closed-form regression that "
        "needs no iteration and no float accumulation. The intercept "
        "numerator subtracts two ~1e15 products; both sit under 2^53 "
        "so the double subtraction is still exact. The 100 TB shape: "
        "facts partial-aggregate map-side to the nation x month frame "
        "(calendar-bounded), dims broadcast, and the power sums are "
        "algebraic (single-pass, mergeable) — the same five "
        "accumulators stream through any partitioning.",
)
def orders_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
            )
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    sums = monthly.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    syy_c = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        "nation",
        "n",
        F.round(F.lit(1_000_000.0) * num / den).cast("bigint").alias("slope_micro"),
        F.round(
            F.lit(1_000_000.0)
            * (
                F.col("sy").cast("double") * den
                - num.cast("double") * F.col("sx")
            )
            / (F.col("n").cast("double") * den)
        )
        .cast("bigint")
        .alias("intercept_micro"),
        F.round(
            F.lit(1_000_000.0)
            * num.cast("double")
            * num.cast("double")
            / (den.cast("double") * syy_c.cast("double"))
        )
        .cast("bigint")
        .alias("r2_micro"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Next-fit compaction planner
# ---------------------------------------------------------------------------
#
# Next-fit compaction planner: the small-file bin packer every
# lakehouse maintenance job runs — items (partition, month, size)
# stream in layout order through a NEXT-FIT fold (bin += 1 when the
# current bin would overflow), state packed into one bigint so both
# engines replay the identical integer fold; capacity derives from
# the item-size average so the plan is scale-invariant.

_PACK_FILL = 1_000_000_000  # state encoding bin*1e9 + fill; fill < 1e9
_PACK_CAP_X = 4  # capacity = 4x the average item size (scale-invariant)


@register(
    "compaction_bin_packing",
    oracle=f"""
    WITH items AS (
        SELECT o_orderpriority AS part,
               CAST((year(o_orderdate) - 1995) * 12
                    + (month(o_orderdate) - 1) AS BIGINT) AS m,
               CAST(count(*) * 100 AS BIGINT) AS size
        FROM orders GROUP BY 1, 2
    ),
    cap AS (
        SELECT CAST({_PACK_CAP_X} * (sum(size) // count(*)) AS BIGINT) AS c
        FROM items
    ),
    packed AS (
        SELECT part, list(struct_pack(m := m, size := size) ORDER BY m) AS l
        FROM items GROUP BY part
    ),
    expanded AS (
        SELECT part, l, unnest(generate_series(1, len(l))) AS t
        FROM packed
    ),
    folded AS (
        SELECT e.part, e.l[e.t].m AS m, e.l[e.t].size AS size,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                list_transform(e.l[1:e.t], s -> s.size)),
                   (acc, x) -> CASE
                       WHEN acc % {_PACK_FILL} + x > c.c
                       THEN (acc // {_PACK_FILL} + 1) * {_PACK_FILL} + x
                       ELSE acc + x END) AS state
        FROM expanded e CROSS JOIN cap c
    )
    SELECT part, m AS month_index, size,
           CAST(state // {_PACK_FILL} AS BIGINT) AS bin,
           CAST(state % {_PACK_FILL} AS BIGINT) AS bin_fill_after
    FROM folded
    ORDER BY part, month_index
    """,
    doc="Next-fit compaction planner — the small-file bin packer "
        "every lakehouse maintenance job runs: per-partition monthly "
        "'files' (size proxy = 100 bytes/row) stream in layout order "
        "through the NEXT-FIT rule (open a new bin when the current "
        "one would overflow; never look back — the streaming-friendly "
        "2-approximation of optimal packing). The fold state (bin, "
        "fill) packs into ONE bigint bin*1e9+fill, so the per-item "
        "assignment is a pure integer left fold both engines replay "
        "identically (Spark F.aggregate / oracle list_reduce, init "
        "prepended); the capacity derives from the average item size "
        "(x4), making the plan scale-invariant instead of pinned to "
        "a byte constant. The trajectory comes from prefix folds over "
        "the CALENDAR-bounded month list (<=100 elements — O(n^2) on "
        "a frame that never grows with data). The 100 TB shape: item "
        "stats partial-aggregate map-side to the partition x month "
        "frame, and the rest is ONE linear plan over that frame with "
        "no checkpoint: the capacity is an unpartitioned window over "
        "the priority x month calendar, and each item's state an "
        "F.aggregate over a running-window collect_list per partition "
        "(ROWS UNBOUNDED PRECEDING, ordered by the unique month, so "
        "every prefix is deterministic); the "
        "emitted (file -> bin) map is exactly the job list a "
        "compactor executes.",
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("part"),
            (
                (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
            )
            .cast("bigint")
            .alias("m"),
        )
        .agg((F.count("*") * 100).cast("bigint").alias("size"))
    )
    # The windows below see only the priority x month calendar rows; m is
    # unique per part, so each running collect_list prefix is in month
    # order and deterministic.
    everything = Window.partitionBy()
    with_cap = items.withColumn(
        "c",
        F.lit(_PACK_CAP_X)
        * F.floor(
            F.sum("size").over(everything) / F.count("*").over(everything)
        ).cast("bigint"),
    )
    cum = (
        Window.partitionBy("part")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fill_lit = F.lit(_PACK_FILL).cast("long")
    state = F.aggregate(
        F.collect_list("size").over(cum),
        F.lit(0).cast("long"),
        lambda acc, x: F.when(
            F.pmod(acc, fill_lit) + x > F.col("c"),
            (F.floor(acc / fill_lit).cast("long") + 1) * fill_lit + x,
        ).otherwise(acc + x),
    )
    return (
        with_cap.withColumn("state", state)
        .select(
            "part",
            F.col("m").alias("month_index"),
            "size",
            F.floor(F.col("state") / fill_lit).cast("bigint").alias("bin"),
            F.pmod("state", fill_lit).cast("bigint").alias("bin_fill_after"),
        )
        .orderBy("part", "month_index")
    )


# Float discipline (the queries module docstring): dot products, scores,
# counts and cents are exact bigints; each reported ratio is a single rounded
# IEEE division.

# ---------------------------------------------------------------------------
# Duplicate-invoice detection
# ---------------------------------------------------------------------------
#
# Duplicate-invoice detection — the classic AP fraud/data-bug screen:
# pairs of orders by the SAME customer for the SAME exact amount
# within 7 days. The blocking key (custkey, cents) bounds the
# self-join exactly the way every record-linkage blocker does.

_DUPINV_WINDOW_DAYS = 30
_DUPINV_BAND = 10_000  # whole-dollar amount band for blocking


@register(
    "orders_duplicate_invoices",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice) AS BIGINT) AS dollars,
               CAST(round(o_totalprice) AS BIGINT) // {_DUPINV_BAND} AS band,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.dollars AS dollars_a, b.dollars AS dollars_b,
           CAST(abs(date_diff('day', a.d, b.d)) AS BIGINT) AS day_gap
    FROM keyed a JOIN keyed b
      ON a.o_custkey = b.o_custkey AND a.band = b.band
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', a.d, b.d)) <= {_DUPINV_WINDOW_DAYS}
    ORDER BY custkey, order_a, order_b
    """,
    doc="Duplicate-invoice screen — the accounts-payable fraud / "
        "double-submission candidate pass: pairs of orders by the "
        f"SAME customer in the SAME \\${_DUPINV_BAND:,} amount band "
        f"within {_DUPINV_WINDOW_DAYS} days (exact whole dollars from "
        "cents, never float compares). The self-join blocks on "
        "(custkey, band) — the record-linkage BLOCKING device: "
        "candidate pairs are bounded by per-key group sizes "
        "(quadratic only within a key), never |orders|^2; the date "
        "window filters candidates, not the other way around. Banding "
        "has the standard blocking blind spot — a pair straddling a "
        "band edge is missed — and the standard fix: a second pass "
        "with the bands OFFSET by half a width catches every pair "
        "within band/2, at exactly 2x cost (this query is pass one; "
        "the offset pass is the same plan with band shifted). The "
        "100 TB shape: one shuffle hash-partitions both sides by the "
        "composite key (self-join co-locates for free); a hot key "
        "means one customer flooding one amount band — itself the "
        "fraud signal, and salt-able like any skewed key.",
)
def orders_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    dollars = F.round(F.col("o_totalprice")).cast("bigint")
    keyed = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        dollars.alias("dollars"),
        F.floor(dollars / _DUPINV_BAND).cast("bigint").alias("band"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = keyed.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_a"),
        F.col("dollars").alias("dollars_a"),
        "band",
        F.col("d").alias("da"),
    )
    b = keyed.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_b"),
        F.col("dollars").alias("dollars_b"),
        F.col("band").alias("band_b"),
        F.col("d").alias("db"),
    )
    return (
        a.join(
            b,
            (a.custkey == b.custkey)
            & (a.band == b.band_b)
            & (a.order_a < b.order_b),
        )
        .filter(
            F.abs(F.datediff(F.col("db"), F.col("da"))) <= _DUPINV_WINDOW_DAYS
        )
        .select(
            a.custkey.alias("custkey"),
            "order_a",
            "order_b",
            "dollars_a",
            "dollars_b",
            F.abs(F.datediff(F.col("db"), F.col("da")))
            .cast("bigint")
            .alias("day_gap"),
        )
        .orderBy("custkey", "order_a", "order_b")
    )


# ---------------------------------------------------------------------------
# Repeat-purchase rate
# ---------------------------------------------------------------------------
#
# Repeat-purchase rate per brand: of (customer, part) pairs with at
# least one order, the share ordered in 2+ DISTINCT orders — the
# retention metric for products; exact distinct counting, one
# division per brand at the end.


@register(
    "part_reorder_rate",
    oracle="""
    WITH pairs AS (
        SELECT l.l_partkey, o.o_custkey,
               CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    )
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (WHERE pr.n_orders >= 2) AS BIGINT)
               AS n_repeat,
           CAST(round(1000000.0
                      * count(*) FILTER (WHERE pr.n_orders >= 2)
                      / count(*)) AS BIGINT) AS reorder_rate_micro,
           CAST(sum(pr.n_orders) AS BIGINT) AS total_orders
    FROM pairs pr JOIN part p ON p.p_partkey = pr.l_partkey
    GROUP BY 1 ORDER BY brand
    """,
    doc="Repeat-purchase rate per brand: of the (customer, part) "
        "pairs that ever ordered, the share that ordered in 2+ "
        "DISTINCT orders — the product-retention metric behind "
        "replenishment and subscription candidates. The heavy "
        "aggregate is the (part, customer) distinct-order count: a "
        "fact-to-fact join on the co-partitioned orderkey (the S10 "
        "bucketing layout) followed by one partial-aggregatable "
        "groupBy; the brand rollup then joins the part DIM broadcast-"
        "side and reduces counts with FILTER (both counts in the same "
        "pass) — one rounded division per brand at the very end. The "
        "100 TB shape: nothing driver-side, distinct-order counting "
        "collapses map-side within (part, cust) partitions, and the "
        "pair frame is bounded by live customer x assortment, not raw "
        "line items.",
)
def part_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_partkey", "o_custkey")
        .agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    )
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repeat"),
            F.round(
                F.lit(1_000_000.0)
                * F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
                / F.count("*")
            )
            .cast("bigint")
            .alias("reorder_rate_micro"),
            F.sum("n_orders").cast("bigint").alias("total_orders"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope
# ---------------------------------------------------------------------------
#
# Theil-Sen estimator per nation: the MEDIAN of all pairwise monthly
# revenue slopes — the robust trend immune to the outlier months
# that bend OLS; the pair frame is the CALENDAR-bounded month list
# (<= 80 rows -> <= 3,160 pairs per nation), each slope one rounded
# division of exact integers, the median an exact lower-median rank
# pick.


@register(
    "orders_theil_sen_trend",
    oracle="""
    WITH monthly AS (
        SELECT n.n_name AS nation,
               CAST((year(o.o_orderdate) - 1995) * 12
                    + (month(o.o_orderdate) - 1) AS BIGINT) AS x,
               CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.nation,
               CAST(round(1000000.0 * (b.y - a.y) / (b.x - a.x)) AS BIGINT)
                   AS slope_micro
        FROM monthly a JOIN monthly b
          ON a.nation = b.nation AND a.x < b.x
    ),
    ranked AS (
        SELECT nation, slope_micro,
               row_number() OVER (PARTITION BY nation
                                  ORDER BY slope_micro) AS rk,
               count(*) OVER (PARTITION BY nation) AS n
        FROM slopes
    )
    SELECT nation,
           CAST(max(n) AS BIGINT) AS n_pairs,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN slope_micro END)
                AS BIGINT) AS theil_sen_slope_micro
    FROM ranked
    GROUP BY nation ORDER BY nation
    """,
    doc="Theil-Sen estimator per nation — the robust trend: the "
        "MEDIAN of all pairwise monthly revenue slopes, immune to the "
        "outlier months that bend orders_trend_ols (up to ~29% "
        "contamination). The pair frame is the CALENDAR-bounded month "
        "list (<= 80 months -> <= 3,160 pairs per nation, a few "
        "hundred KB at ANY corpus size); each slope is one rounded "
        "division of exact whole-dollar/month-index integers, and the "
        "median is the exact LOWER-median rank pick ((n+1)//2, pinned "
        "convention) over those integers — no float ever ordered. The "
        "100 TB shape: facts partial-aggregate map-side to the nation "
        "x month frame exactly as in the OLS plan; the quadratic pair "
        "join runs on that calendar frame, not the data, so it is "
        "scale-INVARIANT; the rank window partitions per nation.",
)
def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
            )
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .localCheckpoint()  # both sides of the pair self-join
    )
    a = monthly.select("nation", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = monthly.select(
        F.col("nation").alias("nation_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    slopes = (
        a.join(b, (a.nation == b.nation_b) & (a.xa < b.xb))
        .select(
            "nation",
            F.round(
                F.lit(1_000_000.0)
                * (F.col("yb") - F.col("ya"))
                / (F.col("xb") - F.col("xa"))
            )
            .cast("bigint")
            .alias("slope_micro"),
        )
    )
    wr = Window.partitionBy("nation").orderBy("slope_micro")
    wn = Window.partitionBy("nation")
    ranked = slopes.select(
        "nation",
        "slope_micro",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        ranked.groupBy("nation")
        .agg(
            F.max("n").cast("bigint").alias("n_pairs"),
            F.max(
                F.when(
                    F.col("rk") == int_div(F.col("n") + 1, 2),
                    F.col("slope_micro"),
                )
            )
            .cast("bigint")
            .alias("theil_sen_slope_micro"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Aging buckets
# ---------------------------------------------------------------------------
#
# Receivables aging buckets: open orders bucketed by age at the
# snapshot date (the max order date — derived, not wall-clock, so
# the query is deterministic and replayable) with counts, exact cent
# totals, and value shares — the AR/backlog report every finance and
# fulfillment team runs.

_AGING_BUCKETS = ((30, "00-030d"), (90, "031-090d"), (365, "091-365d"))
_AGING_LAST = "365d+"


def _bucket_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} <= {days} THEN '{label}'" for days, label in _AGING_BUCKETS
    )
    return f"CASE {cases} ELSE '{_AGING_LAST}' END"


@register(
    "orders_aging_buckets",
    oracle=f"""
    WITH snap AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS snap_d FROM orders
    ),
    open_orders AS (
        SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE), s.snap_d)
                    AS BIGINT) AS age_d,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders, snap s
        WHERE o_orderstatus = 'O'
    ),
    bucketed AS (
        SELECT {_bucket_sql('age_d')} AS bucket, age_d, cents
        FROM open_orders
    ),
    agg AS (
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(max(age_d) AS BIGINT) AS max_age_d
        FROM bucketed GROUP BY bucket
    )
    SELECT bucket, n_orders, total_cents, max_age_d,
           CAST(round(1000000.0 * total_cents
                      / sum(total_cents) OVER ()) AS BIGINT) AS share_micro
    FROM agg ORDER BY bucket
    """,
    doc="Receivables / backlog aging: OPEN orders bucketed by age at "
        "the snapshot date with counts, exact cent totals, and value "
        "shares — the report every finance and fulfillment team runs "
        "first. The snapshot is the max order date DERIVED from the "
        "data (never wall-clock, so the query is deterministic and "
        "replayable against any historical copy); buckets are the "
        "standard 30/90/365 fences as a literal CASE; the share "
        "normalizes by one window sum over the 4-row bucket frame. "
        "The 100 TB shape: the status filter pushes to the scan, the "
        "snapshot is a 1-row broadcast, the aggregate partial-"
        "combines onto a FOUR-row frame — one scan, one tiny "
        "exchange, at any scale.",
)
def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    snap = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("snap_d"))
    open_orders = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(snap))
        .select(
            F.datediff(F.col("snap_d"), F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("age_d"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    bucket = F.lit(_AGING_LAST)
    for days, label in reversed(_AGING_BUCKETS):
        bucket = F.when(F.col("age_d") <= days, F.lit(label)).otherwise(bucket)
    agg = (
        open_orders.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.max("age_d").cast("bigint").alias("max_age_d"),
        )
    )
    return agg.select(
        "bucket",
        "n_orders",
        "total_cents",
        "max_age_d",
        F.round(
            F.lit(1_000_000.0)
            * F.col("total_cents")
            / F.sum("total_cents").over(Window.partitionBy())
        )
        .cast("bigint")
        .alias("share_micro"),
    ).orderBy("bucket")


# Float discipline (the queries module docstring): set sizes, power sums,
# residuals and fences are exact bigints; each reported ratio is one rounded
# IEEE division.

# ---------------------------------------------------------------------------
# ABC-XYZ matrix
# ---------------------------------------------------------------------------
#
# ABC-XYZ inventory matrix: the planning classification crossing
# revenue share (ABC, cumulative 80/95% fences) with demand
# volatility (XYZ by coefficient of variation over monthly demand).
# The CV class fences are decided by INTEGER cross-multiplication of
# power sums (cv < t <=> t_den^2 * n * (n*SS - S^2) <
# t_num^2 * (n-1) * S^2) — no division, no sqrt, anywhere near a
# decision.

# XYZ fences on the coefficient of variation, as exact rationals
_XYZ_X_NUM, _XYZ_X_DEN = 1, 2  # cv < 0.5 -> X
_XYZ_Y_NUM, _XYZ_Y_DEN = 1, 1  # cv < 1.0 -> Y, else Z


@register(
    "orders_abc_xyz_matrix",
    oracle=f"""
    WITH monthly AS (
        SELECT l.l_partkey AS pk,
               (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1
                   AS m,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS q
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    part_stats AS (
        SELECT pk,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q * q) AS BIGINT) AS ss
        FROM monthly GROUP BY pk
    ),
    revenue AS (
        SELECT l_partkey AS pk,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1
    ),
    abc AS (
        SELECT pk, cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, pk
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
               CAST(sum(cents) OVER () AS BIGINT) AS tot
        FROM revenue
    ),
    classed AS (
        SELECT a.pk,
               CASE WHEN 100 * a.cum <= 80 * a.tot THEN 'A'
                    WHEN 100 * a.cum <= 95 * a.tot THEN 'B'
                    ELSE 'C' END AS abc_class,
               CASE
                   WHEN p.n <= 1 THEN 'Z'
                   WHEN {_XYZ_X_DEN * _XYZ_X_DEN} * p.n
                        * (p.n * p.ss - p.s * p.s)
                        < {_XYZ_X_NUM * _XYZ_X_NUM} * (p.n - 1)
                          * p.s * p.s THEN 'X'
                   WHEN {_XYZ_Y_DEN * _XYZ_Y_DEN} * p.n
                        * (p.n * p.ss - p.s * p.s)
                        < {_XYZ_Y_NUM * _XYZ_Y_NUM} * (p.n - 1)
                          * p.s * p.s THEN 'Y'
                   ELSE 'Z' END AS xyz_class
        FROM abc a JOIN part_stats p ON p.pk = a.pk
    )
    SELECT abc_class, xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM classed
    GROUP BY 1, 2 ORDER BY abc_class, xyz_class
    """,
    doc="ABC-XYZ inventory matrix — the planning classification every "
        "supply chain runs: ABC by cumulative revenue share (80/95% "
        "fences over parts ranked by revenue, integer cross-"
        "multiplied: 100*cum <= 80*total), crossed with XYZ by demand "
        "volatility (coefficient of variation over monthly demand; "
        "cv < 1/2 -> X, < 1 -> Y, else Z). The CV fences are decided "
        "by PURE INTEGER cross-multiplication of power sums — "
        "den^2 * n * (n*SS - S^2) < num^2 * (n-1) * S^2 — no "
        "division, no sqrt, no float near any class boundary; "
        "single-month parts pin to Z (undefined volatility = "
        "unplannable, the standard convention). The 100 TB shape: "
        "monthly demand partial-aggregates onto the part x month "
        "frame, part stats are algebraic accumulators, the ABC "
        "running share EXECUTES as operators/ranks.global_cumsum over "
        "the PART dimension (range partition + partitioned running "
        "sums + broadcast prefix offsets — no single-partition "
        "window), and the output is a 9-cell matrix at any scale.",
)
def orders_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    monthly = (
        li.select("l_orderkey", "l_partkey", "l_quantity")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("pk"),
            (
                (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
            ).alias("m"),
        )
        .agg(
            F.sum(F.round("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q")
        )
    )
    part_stats = monthly.groupBy("pk").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("ss"),
    )
    revenue = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = global_cumsum(
        revenue, [F.col("cents").desc(), "pk"], "cents", out_col="cum"
    ).localCheckpoint()  # part-dim frame, read by the total AND the join
    # total = the last running sum; aggregating the checkpoint-backed
    # cumsum frame avoids a second scan of the lineitem rollup
    tot = ranked.agg(F.max("cum").cast("bigint").alias("tot"))
    abc = ranked.crossJoin(F.broadcast(tot)).select("pk", "cum", "tot")
    var_num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    s2 = F.col("s") * F.col("s")
    xyz = (
        F.when(F.col("n") <= 1, "Z")
        .when(
            _XYZ_X_DEN * _XYZ_X_DEN * F.col("n") * var_num
            < _XYZ_X_NUM * _XYZ_X_NUM * (F.col("n") - 1) * s2,
            "X",
        )
        .when(
            _XYZ_Y_DEN * _XYZ_Y_DEN * F.col("n") * var_num
            < _XYZ_Y_NUM * _XYZ_Y_NUM * (F.col("n") - 1) * s2,
            "Y",
        )
        .otherwise("Z")
    )
    abc_cls = (
        F.when(100 * F.col("cum") <= 80 * F.col("tot"), "A")
        .when(100 * F.col("cum") <= 95 * F.col("tot"), "B")
        .otherwise("C")
    )
    classed = abc.join(part_stats, "pk").select(
        abc_cls.alias("abc_class"), xyz.alias("xyz_class")
    )
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .orderBy("abc_class", "xyz_class")
    )


# ---------------------------------------------------------------------------
# Seasonally-adjusted anomalies
# ---------------------------------------------------------------------------
#
# Seasonally-adjusted revenue anomalies: deseasonalize daily revenue
# by the calendar-month index (the orders_seasonality_index device),
# then flag days whose residual deviates from the median by more
# than k times the MAD — the robust outlier rule that survives the
# fat tails z-scores drown in. Medians/MADs are exact rank picks
# over integer residuals.

_ANOM_K = 3  # flag |residual - median| > K * MAD


@register(
    "orders_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    monthly AS (
        SELECT month(day) AS cal_month,
               CAST(sum(cents) AS BIGINT) AS s_m,
               count(*) AS d_m
        FROM daily GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(s_m) AS BIGINT) AS s_all,
               CAST(sum(d_m) AS BIGINT) AS d_all
        FROM monthly
    ),
    idx AS (
        SELECT m.cal_month,
               CAST(round(1000000.0 * (m.s_m * t.d_all)
                          / (m.d_m * t.s_all)) AS BIGINT) AS index_micro
        FROM monthly m CROSS JOIN tot t
    ),
    resid AS (
        SELECT d.day, d.cents, i.index_micro,
               CAST(round(1000000.0 * d.cents / i.index_micro) AS BIGINT)
                   AS resid_cents
        FROM daily d JOIN idx i ON i.cal_month = month(d.day)
    ),
    med AS (
        SELECT CAST(max(CASE WHEN rk = (n + 1) // 2 THEN resid_cents END)
                    AS BIGINT) AS med_resid
        FROM (SELECT resid_cents,
                     row_number() OVER (ORDER BY resid_cents, day) AS rk,
                     count(*) OVER () AS n
              FROM resid) x
    ),
    mad AS (
        SELECT CAST(max(CASE WHEN rk = (n + 1) // 2 THEN dev END) AS BIGINT)
                   AS mad_resid
        FROM (SELECT abs(r.resid_cents - m.med_resid) AS dev,
                     row_number() OVER (ORDER BY abs(r.resid_cents
                                                     - m.med_resid),
                                        r.day) AS rk,
                     count(*) OVER () AS n
              FROM resid r CROSS JOIN med m) x
    )
    SELECT CAST(r.day AS VARCHAR) AS day, r.cents, r.index_micro,
           r.resid_cents,
           CAST(abs(r.resid_cents - m.med_resid) AS BIGINT) AS deviation
    FROM resid r CROSS JOIN med m CROSS JOIN mad d
    WHERE abs(r.resid_cents - m.med_resid) > {_ANOM_K} * d.mad_resid
    ORDER BY day
    """,
    doc="Seasonally-adjusted revenue anomalies: deseasonalize each "
        "day's revenue by its calendar-month index (the "
        "orders_seasonality_index device — exact bigint cross-"
        "products, one rounded division per month), then flag days "
        f"whose residual deviates from the MEDIAN by more than "
        f"{_ANOM_K}x the MAD — the robust rule that still works when "
        "the z-score's mean/std are themselves dragged by the "
        "anomalies it should find. Median and MAD are exact LOWER-"
        "median rank picks ((n+1)//2, day tiebreak) over integer "
        "residuals; the flag compares exact integers (K*MAD never "
        "divides). The 100 TB shape: the fact collapses map-side to "
        "the calendar-day frame; every window after that sorts a "
        "frame bounded by the CALENDAR (a decade is ~3,653 rows), so "
        "the anomaly pass costs one scan plus domain-frame work at "
        "any data size.",
)
def orders_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()  # feeds the index build AND the residual join
    )
    monthly = (
        daily.groupBy(F.month("day").alias("cal_month"))
        .agg(
            F.sum("cents").cast("bigint").alias("s_m"),
            F.count("*").alias("d_m"),
        )
        .localCheckpoint()
    )
    tot = monthly.agg(
        F.sum("s_m").cast("bigint").alias("s_all"),
        F.sum("d_m").cast("bigint").alias("d_all"),
    )
    idx = monthly.crossJoin(F.broadcast(tot)).select(
        "cal_month",
        F.round(
            F.lit(1_000_000.0)
            * (F.col("s_m") * F.col("d_all"))
            / (F.col("d_m") * F.col("s_all"))
        )
        .cast("bigint")
        .alias("index_micro"),
    )
    resid = (
        daily.join(F.broadcast(idx), F.month("day") == idx.cal_month)
        .select(
            "day",
            "cents",
            "index_micro",
            F.round(F.lit(1_000_000.0) * F.col("cents") / F.col("index_micro"))
            .cast("bigint")
            .alias("resid_cents"),
        )
        .localCheckpoint()  # consumed by median, MAD, and the final filter
    )
    wr = Window.orderBy("resid_cents", "day")
    wn = Window.partitionBy()
    med = (
        resid.select(
            "resid_cents",
            F.row_number().over(wr).alias("rk"),
            F.count("*").over(wn).alias("n"),
        )
        .agg(
            F.max(
                F.when(
                    F.col("rk") == int_div(F.col("n") + 1, 2),
                    F.col("resid_cents"),
                )
            )
            .cast("bigint")
            .alias("med_resid")
        )
    )
    with_med = resid.crossJoin(F.broadcast(med))
    wd = Window.orderBy(F.abs(F.col("resid_cents") - F.col("med_resid")), "day")
    mad = (
        with_med.select(
            F.abs(F.col("resid_cents") - F.col("med_resid")).alias("dev"),
            F.row_number().over(wd).alias("rk"),
            F.count("*").over(wn).alias("n"),
        )
        .agg(
            F.max(
                F.when(F.col("rk") == int_div(F.col("n") + 1, 2), F.col("dev"))
            )
            .cast("bigint")
            .alias("mad_resid")
        )
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .filter(
            F.abs(F.col("resid_cents") - F.col("med_resid"))
            > _ANOM_K * F.col("mad_resid")
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "cents",
            "index_micro",
            "resid_cents",
            F.abs(F.col("resid_cents") - F.col("med_resid"))
            .cast("bigint")
            .alias("deviation"),
        )
        .orderBy("day")
    )


# Float discipline (the queries module docstring): covariates, outcomes, day
# gaps and surrogate keys are exact integers; each reported ratio is a single
# rounded IEEE division.

# ---------------------------------------------------------------------------
# Star-schema mart build
# ---------------------------------------------------------------------------
#
# Star-schema mart build — the warehouse composition: build a
# customer dimension with deterministic surrogate keys, write it,
# build the orders fact keyed by those surrogates, write it
# partitioned by year, then read BOTH back and produce the
# year x region rollup plus referential-integrity verdicts from the
# materialized mart — certifying the whole write -> key -> join ->
# read-back chain, not just the plan.


@register(
    "mart_star_schema_build",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           CAST(0 AS BIGINT) AS fact_orphans
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2 ORDER BY order_year, region
    """,
    doc="Star-schema mart build — the warehouse composition under the "
        "hash gate: (1) build dim_customer (customer x nation x "
        "region, broadcast dims) with DETERMINISTIC surrogate keys "
        "(dense row_number over the natural key — replayable, unlike "
        "monotonically_increasing_id) and WRITE it; (2) build "
        "fact_orders keyed by those surrogates and WRITE it "
        "partitioned by order year; (3) read BOTH back from parquet "
        "and produce the year x region revenue rollup PLUS the "
        "referential-integrity verdict (fact rows whose surrogate "
        "has no dimension row — pinned 0) from the MATERIALIZED "
        "mart. The oracle recomputes the rollup straight from the "
        "sources, so a hash match certifies the entire write -> "
        "surrogate-key -> join -> partitioned-read-back chain, not "
        "just a logical plan. The 100 TB shape: dims broadcast, the "
        "fact writes through a year-partitioned layout (partition "
        "pruning for every time-sliced mart query downstream), the "
        "surrogate join is dimension-sized, and the integrity check "
        "is an anti-join that partial-counts — the nightly "
        "build-and-verify every warehouse runs.",
)
def mart_star_schema_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("star_mart")
    dim_path = _os.path.join(base, "dim_customer")
    fact_path = _os.path.join(base, "fact_orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )
    # Deterministic dense surrogate keys WITHOUT the single-partition
    # row_number window: the partition-offset (zipWithIndex-style)
    # assignment from operators/ranks — replayable, unlike
    # monotonically_increasing_id, and parallel, unlike Window.orderBy.
    dim = global_row_number(dim, ["c_custkey"], rn_col="customer_sk").select(
        "c_custkey", "nation", "region", F.col("customer_sk").cast("bigint").alias("customer_sk")
    )
    dim.write.mode("overwrite").parquet(dim_path)
    dim_back = spark.read.parquet(dim_path)
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    fact = o.join(
        F.broadcast(dim_back.select("c_custkey", "customer_sk")),
        o.o_custkey == F.col("c_custkey"),
    ).select("customer_sk", "order_year", "cents")
    fact.write.mode("overwrite").partitionBy("order_year").parquet(fact_path)
    fact_back = spark.read.parquet(fact_path)
    orphans = fact_back.join(
        dim_back.select("customer_sk"), "customer_sk", "anti"
    ).agg(F.count("*").cast("bigint").alias("fact_orphans"))
    rollup = (
        fact_back.join(F.broadcast(dim_back), "customer_sk")
        .groupBy("order_year", "region")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )
    return (
        rollup.crossJoin(F.broadcast(orphans))
        .select(
            F.col("order_year").cast("bigint").alias("order_year"),
            "region",
            "n_orders",
            "revenue_cents",
            "fact_orphans",
        )
        .orderBy("order_year", "region")
    )


# ---------------------------------------------------------------------------
# Cycle-time percentile trend
# ---------------------------------------------------------------------------
#
# Order-to-ship cycle time trend: per ship month, exact p50/p90 rank
# picks and the exact mean of the order->ship day gap — the
# operations KPI that catches fulfillment drift; percentile ranks
# are pinned integer conventions over a pinned total order.


@register(
    "orders_cycle_time_trend",
    oracle="""
    WITH cycles AS (
        SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS month,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d,
               l.l_orderkey, l.l_linenumber
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ranked AS (
        SELECT month, d,
               row_number() OVER (PARTITION BY month
                                  ORDER BY d, l_orderkey, l_linenumber)
                   AS rk,
               count(*) OVER (PARTITION BY month) AS n,
               CAST(sum(d) OVER (PARTITION BY month) AS BIGINT) AS s
        FROM cycles
    )
    SELECT month,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN d END) AS BIGINT)
               AS p50_days,
           CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN d END) AS BIGINT)
               AS p90_days,
           CAST(round(1000000.0 * max(s) / max(n)) AS BIGINT)
               AS mean_days_micro
    FROM ranked
    GROUP BY month ORDER BY month
    """,
    doc="Order-to-ship cycle-time trend: per ship month, the exact "
        "p50 and p90 of the order->ship day gap plus the exact mean "
        "— the fulfillment KPI that catches operational drift before "
        "customers do. Percentiles are PINNED integer rank "
        "conventions (lower median (n+1)//2; p90 at ceil(0.9n) = "
        "(9n+9)//10) over the pinned (days, orderkey, linenumber) "
        "total order, so both engines pick the identical element "
        "even through ties; the mean is exact day-sums with one "
        "rounded division. The 100 TB shape: the fact-to-fact join "
        "is co-partitioned on orderkey (the S10 bucketing layout), "
        "the rank window partitions per month (embarrassingly "
        "parallel across the calendar), and the output is one row "
        "per month; the documented escalation for per-month rank "
        "sorts at extreme density is the mergeable quantile-sketch "
        "family, judged against this exact baseline.",
)
def orders_cycle_time_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cycles = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("d"),
        "l_orderkey",
        "l_linenumber",
    )
    wr = Window.partitionBy("month").orderBy("d", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("month")
    ranked = cycles.select(
        "month",
        "d",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n"),
        F.sum("d").over(wn).cast("bigint").alias("s"),
    )
    return (
        ranked.groupBy("month")
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.max(
                F.when(F.col("rk") == int_div(F.col("n") + 1, 2), F.col("d"))
            )
            .cast("bigint")
            .alias("p50_days"),
            F.max(
                F.when(
                    F.col("rk") == int_div(9 * F.col("n") + 9, 10), F.col("d")
                )
            )
            .cast("bigint")
            .alias("p90_days"),
            F.round(F.lit(1_000_000.0) * F.max("s") / F.max("n"))
            .cast("bigint")
            .alias("mean_days_micro"),
        )
        .orderBy("month")
    )


# Float discipline (the queries module docstring): cents, ranks and credits
# are exact bigints; each reported ratio is a single rounded IEEE division.

# ---------------------------------------------------------------------------
# Price waterfall
# ---------------------------------------------------------------------------
#
# Pocket-price waterfall: the pricing-analytics decomposition gross
# -> discount -> net -> tax -> pocket, per brand, every term an
# EXACT per-line cent quantity (discount and tax amounts round to
# cents per line item, the way invoices actually do) with leakage
# ratios as final rounded divisions.


@register(
    "orders_price_waterfall",
    oracle="""
    WITH lines AS (
        SELECT p.p_brand AS brand,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS gross,
               CAST(round(l.l_extendedprice * l.l_discount * 100) AS BIGINT)
                   AS disc,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * l.l_tax
                          * 100) AS BIGINT) AS tax
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(gross) AS BIGINT) AS gross_cents,
           CAST(sum(disc) AS BIGINT) AS discount_cents,
           CAST(sum(gross) - sum(disc) AS BIGINT) AS net_cents,
           CAST(sum(tax) AS BIGINT) AS tax_cents,
           CAST(sum(gross) - sum(disc) - sum(tax) AS BIGINT) AS pocket_cents,
           CAST(round(1000000.0 * sum(disc) / sum(gross)) AS BIGINT)
               AS discount_leakage_micro,
           CAST(round(1000000.0 * (sum(gross) - sum(disc) - sum(tax))
                      / sum(gross)) AS BIGINT) AS pocket_ratio_micro
    FROM lines
    GROUP BY brand ORDER BY brand
    """,
    doc="Pocket-price waterfall per brand — the pricing-analytics "
        "decomposition gross -> discount -> net -> tax -> pocket that "
        "quantifies where list revenue leaks before it lands: every "
        "term is an EXACT per-line cent quantity (discount and tax "
        "amounts round to cents PER LINE ITEM, exactly as invoices "
        "do — summing floats and rounding once would disagree with "
        "the billing system at scale), net and pocket are pure "
        "integer differences, and the leakage/pocket ratios are one "
        "rounded division each. The 100 TB shape: the part dim "
        "broadcasts, the per-line arithmetic is map-side, and the "
        "aggregate partial-combines onto the brand frame — one scan, "
        "one small exchange.",
)
def orders_price_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("gross"),
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
        .cast("bigint")
        .alias("disc"),
        F.round(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * F.col("l_tax")
            * 100
        )
        .cast("bigint")
        .alias("tax"),
    )
    g = F.sum("gross").cast("bigint")
    d = F.sum("disc").cast("bigint")
    t = F.sum("tax").cast("bigint")
    return (
        lines.groupBy("brand")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            g.alias("gross_cents"),
            d.alias("discount_cents"),
            (g - d).alias("net_cents"),
            t.alias("tax_cents"),
            (g - d - t).alias("pocket_cents"),
            F.round(F.lit(1_000_000.0) * d / g)
            .cast("bigint")
            .alias("discount_leakage_micro"),
            F.round(F.lit(1_000_000.0) * (g - d - t) / g)
            .cast("bigint")
            .alias("pocket_ratio_micro"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Supplier scorecard
# ---------------------------------------------------------------------------
#
# Supplier scorecard: the composite vendor ranking every procurement
# team maintains — three metrics (volume, revenue, cycle speed) each
# normalized to an exact rank-uniform score (the ml_feature_scaling
# device), combined with pinned 40/30/30 weights into an integer
# composite, top-10 reported with deterministic ties.

# pinned weights (percent): volume 40, revenue 30, speed 30
_SCORE_W_VOLUME = 40
_SCORE_W_REVENUE = 30
_SCORE_W_SPEED = 30
_SCORE_TOPK = 10


@register(
    "supplier_scorecard",
    oracle=f"""
    WITH metrics AS (
        SELECT l.l_suppkey AS sk,
               CAST(count(*) AS BIGINT) AS volume,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue,
               CAST(sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE))) AS BIGINT)
                   AS cycle_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    ),
    ranked AS (
        SELECT sk, volume, revenue,
               row_number() OVER (ORDER BY volume, sk) AS r_vol,
               row_number() OVER (ORDER BY revenue, sk) AS r_rev,
               -- speed: LOWER total cycle days is better -> rank descending
               row_number() OVER (ORDER BY cycle_days DESC, sk) AS r_spd,
               count(*) OVER () AS n
        FROM metrics
    ),
    scored AS (
        SELECT sk, volume, revenue,
               CAST({_SCORE_W_VOLUME} * round(1000000.0 * (r_vol - 1)
                                              / (n - 1))
                    + {_SCORE_W_REVENUE} * round(1000000.0 * (r_rev - 1)
                                                 / (n - 1))
                    + {_SCORE_W_SPEED} * round(1000000.0 * (r_spd - 1)
                                               / (n - 1)) AS BIGINT)
                   AS composite
        FROM ranked
    )
    SELECT rank, sk AS suppkey, volume, revenue, composite FROM (
        SELECT sk, volume, revenue, composite,
               row_number() OVER (ORDER BY composite DESC, sk) AS rank
        FROM scored) x
    WHERE rank <= {_SCORE_TOPK}
    ORDER BY rank
    """,
    doc="Supplier scorecard — the composite vendor ranking every "
        "procurement team maintains: three metrics (line volume, "
        "cent-exact revenue, cycle speed where FEWER total ship days "
        "rank higher) each normalized to the exact rank-uniform "
        "score over the pinned (metric, suppkey) order (the "
        "ml_feature_scaling device — distribution-free, so one "
        f"metric's fat tail cannot drown the others), combined with "
        f"pinned {_SCORE_W_VOLUME}/{_SCORE_W_REVENUE}/{_SCORE_W_SPEED} "
        "weights into an integer composite (each normalized score is "
        "rounded ONCE to micro, then weighted and summed as exact "
        f"bigints), top-{_SCORE_TOPK} reported with suppkey ties. The "
        "100 TB shape: one co-partitioned fact join, one partial-"
        "aggregatable metric rollup onto the supplier dim frame, "
        "three rank windows over that DIM-sized frame, and a "
        "TakeOrderedAndProject for the top-k — the fact is touched "
        "once.",
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    metrics = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(
            F.count("*").cast("bigint").alias("volume"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue"),
            F.sum(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            )
            .cast("bigint")
            .alias("cycle_days"),
        )
    )
    # Three percentile ranks over the supplier dimension — a frame that
    # grows with the data — so each executes as operators/ranks.
    # global_row_number (range partition + partitioned window + broadcast
    # offsets), chained so the first call's pinned frame feeds the next
    # two and the count; no single-partition window touches the dim.
    m = metrics.select("sk", "volume", "revenue", "cycle_days")
    m = global_row_number(m, ["volume", "sk"], rn_col="r_vol")
    m = global_row_number(m, ["revenue", "sk"], rn_col="r_rev")
    m = global_row_number(
        m, [F.col("cycle_days").desc(), "sk"], rn_col="r_spd"
    )
    n_row = m.agg(F.count("*").alias("n"))
    ranked = m.crossJoin(F.broadcast(n_row)).select(
        "sk", "volume", "revenue", "r_vol", "r_rev", "r_spd", "n"
    )

    def uniform(r):
        return F.round(F.lit(1_000_000.0) * (r - 1) / (F.col("n") - 1))

    scored = ranked.select(
        "sk",
        "volume",
        "revenue",
        (
            _SCORE_W_VOLUME * uniform(F.col("r_vol"))
            + _SCORE_W_REVENUE * uniform(F.col("r_rev"))
            + _SCORE_W_SPEED * uniform(F.col("r_spd"))
        )
        .cast("bigint")
        .alias("composite"),
    )
    # Global top-k: sort-limit compiles to TakeOrderedAndProject (each
    # partition keeps k, the driver merges k) — never a full sort; the
    # rank label is then assigned on the k-row survivor frame.
    topk = scored.orderBy(F.col("composite").desc(), "sk").limit(_SCORE_TOPK)
    return (
        global_row_number(
            topk, [F.col("composite").desc(), "sk"], rn_col="rank"
        )
        .select(
            "rank",
            F.col("sk").alias("suppkey"),
            "volume",
            "revenue",
            "composite",
        )
        .orderBy("rank")
    )


# Float discipline (the queries module docstring): counts, norms and moments
# are exact bigints; each reported ratio is a single rounded IEEE division.

# ---------------------------------------------------------------------------
# Backfill planner
# ---------------------------------------------------------------------------
#
# Backfill planner — the ops primitive every scheduled pipeline
# needs: given a date-partitioned dataset with holes (here: a
# scratch write that deterministically skips some months), discover
# the materialized partitions from the PHYSICAL layout, diff them
# against the calendar spine the source says must exist, and emit
# the backfill work list with expected row counts. Partition
# discovery is metadata-only; the diff is an anti-join on the
# calendar frame.

_BACKFILL_SKIP_MOD = 7  # months with index % 7 == 0 are "missing"


@register(
    "ops_backfill_planner",
    oracle=f"""
    WITH monthly AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
                   AS midx,
               CAST(count(*) AS BIGINT) AS expected_rows
        FROM orders GROUP BY 1, 2
    )
    SELECT month, expected_rows
    FROM monthly
    WHERE midx % {_BACKFILL_SKIP_MOD} = 0
    ORDER BY month
    """,
    doc="Backfill planner — the ops primitive behind every scheduled "
        "pipeline's self-healing: a month-partitioned scratch dataset "
        "is written with deterministic HOLES (month index % "
        f"{_BACKFILL_SKIP_MOD} == 0 skipped — the fixture stand-in "
        "for failed runs), the materialized partitions are discovered "
        "from the PHYSICAL layout (partition-column scan of the "
        "written dataset — metadata-only, no data read), and the "
        "anti-join against the calendar spine the SOURCE says must "
        "exist emits the backfill work list with expected row counts. "
        "The oracle derives the same list from the skip rule, so the "
        "hash certifies that discovery found exactly the written "
        "partitions and nothing else. The 100 TB shape: partition "
        "discovery reads directory names, the spine is calendar-"
        "sized, the expected counts partial-aggregate map-side — the "
        "planner costs one source scan plus metadata regardless of "
        "dataset size; the emitted list IS the scheduler's job "
        "queue.",
)
def ops_backfill_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _os.path.join(scratch_dir("backfill_plan"), "orders_monthly")
    o = table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        (
            (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
        ).alias("midx"),
        "o_orderkey",
    )
    # the "past runs": every month EXCEPT the deterministic holes
    o.filter(F.col("midx") % _BACKFILL_SKIP_MOD != 0).select(
        "month", "o_orderkey"
    ).repartition("month").write.mode("overwrite").partitionBy("month").parquet(
        out
    )
    materialized = spark.read.parquet(out).select("month").distinct()
    spine = o.groupBy("month").agg(
        F.count("*").cast("bigint").alias("expected_rows")
    )
    return (
        spine.join(materialized, "month", "anti")
        .select("month", "expected_rows")
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Revenue bridge decomposition
# ---------------------------------------------------------------------------
#
# Revenue bridge (volume/rate decomposition) between consecutive
# years per nation — the FP&A "why did revenue move" waterfall:
# volume effect = (n2 - n1) * avg1, rate effect = the exact residual,
# so the bridge identity volume + rate = delta holds to the cent BY
# CONSTRUCTION while each effect is one rounded division.

_BRIDGE_Y1 = 1996
_BRIDGE_Y2 = 1997


@register(
    "orders_bridge_decomposition",
    oracle=f"""
    WITH yearly AS (
        SELECT n.n_name AS nation,
               year(o.o_orderdate) AS y,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE year(o.o_orderdate) IN ({_BRIDGE_Y1}, {_BRIDGE_Y2})
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT nation,
               max(CASE WHEN y = {_BRIDGE_Y1} THEN n END) AS n1,
               max(CASE WHEN y = {_BRIDGE_Y1} THEN cents END) AS c1,
               max(CASE WHEN y = {_BRIDGE_Y2} THEN n END) AS n2,
               max(CASE WHEN y = {_BRIDGE_Y2} THEN cents END) AS c2
        FROM yearly GROUP BY nation
        HAVING max(CASE WHEN y = {_BRIDGE_Y1} THEN n END) IS NOT NULL
           AND max(CASE WHEN y = {_BRIDGE_Y2} THEN n END) IS NOT NULL
    )
    SELECT nation, n1, n2, c1, c2,
           CAST(c2 - c1 AS BIGINT) AS delta_cents,
           CAST(round(1.0 * (n2 - n1) * c1 / n1) AS BIGINT)
               AS volume_effect_cents,
           CAST((c2 - c1) - round(1.0 * (n2 - n1) * c1 / n1) AS BIGINT)
               AS rate_effect_cents
    FROM wide ORDER BY nation
    """,
    doc=f"Revenue bridge {_BRIDGE_Y1}->{_BRIDGE_Y2} per nation — the "
        "FP&A 'why did revenue move' waterfall: volume effect = "
        "(order-count change) x (prior-year average order value), "
        "rate effect = the EXACT RESIDUAL delta - volume, so the "
        "bridge identity volume + rate = delta holds to the cent BY "
        "CONSTRUCTION (computing both effects independently and "
        "letting rounding break the bridge is the classic "
        "spreadsheet bug this form eliminates). Counts and cents are "
        "exact; the volume effect is ONE rounded division. The "
        "100 TB shape: one filtered scan partial-aggregates both "
        "years per nation in the same pass (conditional aggregation, "
        "no second scan), dims broadcast, output is nation-sized.",
)
def orders_bridge_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(_BRIDGE_Y1, _BRIDGE_Y2)
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("y"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    wide = (
        yearly.groupBy("nation")
        .agg(
            F.max(F.when(F.col("y") == _BRIDGE_Y1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("y") == _BRIDGE_Y1, F.col("cents"))).alias("c1"),
            F.max(F.when(F.col("y") == _BRIDGE_Y2, F.col("n"))).alias("n2"),
            F.max(F.when(F.col("y") == _BRIDGE_Y2, F.col("cents"))).alias("c2"),
        )
        .filter(F.col("n1").isNotNull() & F.col("n2").isNotNull())
    )
    volume = F.round(
        F.lit(1.0) * (F.col("n2") - F.col("n1")) * F.col("c1") / F.col("n1")
    ).cast("bigint")
    return wide.select(
        "nation",
        "n1",
        "n2",
        "c1",
        "c2",
        (F.col("c2") - F.col("c1")).cast("bigint").alias("delta_cents"),
        volume.alias("volume_effect_cents"),
        ((F.col("c2") - F.col("c1")) - volume)
        .cast("bigint")
        .alias("rate_effect_cents"),
    ).orderBy("nation")


# Float discipline (the queries module docstring): counts, day sums and
# per-term errors are exact bigints; folds are bit-replayable IEEE; each
# reported ratio is a single rounded division.

# ---------------------------------------------------------------------------
# Discount lift curve
# ---------------------------------------------------------------------------
#
# Discount lift curve: average order quantity per discount band vs
# the zero-discount baseline — the first promotion-effectiveness
# read; lifts are cross-multiplied exact integers with one rounded
# division per band.


@register(
    "orders_discount_lift",
    oracle="""
    WITH banded AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(round(l_quantity) AS BIGINT) AS qty
        FROM lineitem
    ),
    per_band AS (
        SELECT disc_pct,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(qty) AS BIGINT) AS total_qty
        FROM banded GROUP BY disc_pct
    ),
    base AS (
        SELECT total_qty AS q0, n_lines AS n0 FROM per_band
        WHERE disc_pct = 0
    )
    SELECT p.disc_pct, p.n_lines,
           CAST(round(1000000.0 * p.total_qty / p.n_lines) AS BIGINT)
               AS avg_qty_micro,
           CAST(round(1000000.0 * (p.total_qty * b.n0)
                      / (p.n_lines * b.q0)) AS BIGINT) AS lift_micro
    FROM per_band p CROSS JOIN base b
    ORDER BY disc_pct
    """,
    doc="Discount lift curve — the first promotion-effectiveness "
        "read: average order quantity per discount percentage band "
        "vs the zero-discount baseline. The lift (avg_d / avg_0) is "
        "computed as ONE division of exact integer cross-products "
        "total_d * n_0 / (n_d * total_0) — never a ratio of two "
        "already-rounded averages, which compounds error exactly "
        "where the business reads elasticity. (Correlational, not "
        "causal — the matched-cohort and A/B operators are the "
        "causal-reading tools; this is the curve that prompts those "
        "analyses.) The 100 TB shape: one scan partial-aggregates "
        "onto the ~11-band discount domain; the baseline is a 1-row "
        "broadcast.",
)
def orders_discount_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_band = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.round("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
        )
        .localCheckpoint()  # feeds the baseline AND the curve
    )
    base = per_band.filter(F.col("disc_pct") == 0).select(
        F.col("total_qty").alias("q0"), F.col("n_lines").alias("n0")
    )
    return (
        per_band.crossJoin(F.broadcast(base))
        .select(
            "disc_pct",
            "n_lines",
            F.round(F.lit(1_000_000.0) * F.col("total_qty") / F.col("n_lines"))
            .cast("bigint")
            .alias("avg_qty_micro"),
            F.round(
                F.lit(1_000_000.0)
                * (F.col("total_qty") * F.col("n0"))
                / (F.col("n_lines") * F.col("q0"))
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy("disc_pct")
    )


# ---------------------------------------------------------------------------
# Little's law
# ---------------------------------------------------------------------------
#
# Little's law (L = lambda * W) applied to order fulfillment: per
# month, average open line items (the sweep-line device integrated
# over days) divided by the arrival rate gives the implied average
# time-in-system — the queueing sanity check that needs no per-item
# tracking, cross-checked here because cycle time IS directly
# measurable. All integer day-sums; one division per month.


@register(
    "orders_littles_law",
    oracle="""
    WITH intervals AS (
        SELECT CAST(o.o_orderdate AS DATE) AS open_d,
               CAST(l.l_shipdate AS DATE) AS close_d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    deltas AS (
        SELECT open_d AS day, CAST(count(*) AS BIGINT) AS delta
        FROM intervals GROUP BY open_d
        UNION ALL
        SELECT close_d, -CAST(count(*) AS BIGINT)
        FROM intervals GROUP BY close_d
    ),
    daily AS (
        SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY day
    ),
    running AS (
        SELECT day,
               CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS open_now,
               CAST(date_diff('day', day,
                              lead(day) OVER (ORDER BY day)) AS BIGINT)
                   AS span_d
        FROM daily
    ),
    monthly AS (
        SELECT strftime(date_trunc('month', r.day), '%Y-%m') AS month,
               CAST(sum(r.open_now * r.span_d) AS BIGINT) AS open_day_sum,
               CAST(sum(r.span_d) AS BIGINT) AS days_covered
        FROM running r WHERE r.span_d IS NOT NULL
        GROUP BY 1
    ),
    arrivals AS (
        SELECT strftime(date_trunc('month', open_d), '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n_arrivals
        FROM intervals GROUP BY 1
    )
    SELECT m.month AS month, a.n_arrivals, m.open_day_sum, m.days_covered,
           CAST(round(1000000.0 * m.open_day_sum / a.n_arrivals) AS BIGINT)
               AS implied_wait_days_micro
    FROM monthly m JOIN arrivals a ON a.month = m.month
    ORDER BY month
    """,
    doc="Little's law (L = lambda W) applied to order fulfillment: "
        "per month, the time-integral of open line items (the "
        "sweep-line running count weighted by the EXACT day span it "
        "holds — step-function integration, not daily sampling) "
        "divided by the month's arrivals gives the implied average "
        "time-in-system W = integral(L)/arrivals, all from interval "
        "ENDPOINTS — no per-item tracking, which is the law's whole "
        "point when items are too numerous to follow individually. "
        "(Here cycle time IS directly measurable, so "
        "orders_cycle_time_trend is the cross-check: Little's "
        "estimate and the direct mean must agree on a stationary "
        "month — the standard queueing sanity test.) All day sums "
        "and counts exact; one division per month. The 100 TB shape: "
        "identical to orders_open_interval_sweep — O(2 x intervals) "
        "map-side deltas, one cumsum over the calendar-bounded "
        "spine.",
)
def orders_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    intervals = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderdate").cast("date").alias("open_d"),
            F.col("l_shipdate").cast("date").alias("close_d"),
        )
        .localCheckpoint()  # feeds the deltas (x2) AND the arrivals
    )
    opens = intervals.groupBy(F.col("open_d").alias("day")).agg(
        F.count("*").cast("bigint").alias("delta")
    )
    closes = intervals.groupBy(F.col("close_d").alias("day")).agg(
        (-F.count("*")).cast("bigint").alias("delta")
    )
    daily = (
        opens.unionAll(closes)
        .groupBy("day")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    w = Window.orderBy("day")
    running = daily.select(
        "day",
        F.sum("net")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("open_now"),
        F.datediff(F.lead("day").over(w), F.col("day"))
        .cast("bigint")
        .alias("span_d"),
    )
    monthly = (
        running.filter(F.col("span_d").isNotNull())
        .groupBy(F.date_format("day", "yyyy-MM").alias("month"))
        .agg(
            F.sum(F.col("open_now") * F.col("span_d"))
            .cast("bigint")
            .alias("open_day_sum"),
            F.sum("span_d").cast("bigint").alias("days_covered"),
        )
    )
    arrivals = intervals.groupBy(
        F.date_format("open_d", "yyyy-MM").alias("month")
    ).agg(F.count("*").cast("bigint").alias("n_arrivals"))
    return (
        monthly.join(arrivals, "month")
        .select(
            "month",
            "n_arrivals",
            "open_day_sum",
            "days_covered",
            F.round(
                F.lit(1_000_000.0) * F.col("open_day_sum") / F.col("n_arrivals")
            )
            .cast("bigint")
            .alias("implied_wait_days_micro"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Lorenz curve of customer spend
# ---------------------------------------------------------------------------
#
# Lorenz curve of customer spend: exact decile assignment over the
# customer dim (operators/ranks.exact_ntile — no single-partition
# window), per-decile cent sums, cumulative share in integer
# micro-units.  The inequality diagnostic behind every "top decile
# drives X% of revenue" claim, with bit-pinned decile membership.

_LORENZ_K = 10


@register(
    "orders_lorenz_curve",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey AS ck,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    d AS (
        SELECT ck, cents,
               ntile({_LORENZ_K}) OVER (ORDER BY cents, ck) AS decile
        FROM spend
    ),
    g AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS decile_cents
        FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM spend)
    SELECT CAST(decile AS BIGINT) AS decile, n_customers, decile_cents,
           CAST(sum(decile_cents) OVER (ORDER BY decile) AS BIGINT)
               AS cum_cents,
           CAST(round(1000000.0 * sum(decile_cents) OVER (ORDER BY decile)
                      / t.total) AS BIGINT) AS cum_share_micro
    FROM g CROSS JOIN t
    ORDER BY decile
    """,
    doc=f"Lorenz curve of customer spend in {_LORENZ_K} exact deciles — "
        "the revenue-concentration diagnostic (companion to "
        "agg_gini_concentration's scalar): per decile of customers "
        "ordered by (spend, custkey), the cent sum and the cumulative "
        "share in integer micro-units. Decile membership EXECUTES as "
        "operators/ranks.exact_ntile (distributed row numbers + the "
        "exact SQL NTILE fill; range partition + partitioned window + "
        "broadcast P-row offsets), so no stage moves the customer dim "
        "to one partition; the cumulative step runs on the 10-row "
        "decile frame via the window-free triangular join. The 100 TB "
        "shape: orders collapse to the customer dim in one partial-"
        "combining exchange, the ntile pass is two parallel shuffles "
        "of that dim, and everything after is k-row arithmetic.",
)
def orders_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    d = exact_ntile(spend, ["cents", "ck"], _LORENZ_K, out_col="decile")
    # materialize the k-row decile frame: it feeds THREE consumers (the
    # triangular cumulative's both sides and the total), and without the
    # checkpoint each replays the whole post-checkpoint ntile subtree —
    # measured 31 -> 5 plan exchanges (plan_pins ledger)
    g = (
        d.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("decile_cents"),
        )
        .localCheckpoint()
    )
    cum = cum_small(g, "decile", ["decile_cents"])
    total = g.agg(F.sum("decile_cents").cast("bigint").alias("total"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "decile_cents",
            F.col("cum_decile_cents").alias("cum_cents"),
            F.round(
                F.lit(1_000_000.0) * F.col("cum_decile_cents") / F.col("total")
            )
            .cast("bigint")
            .alias("cum_share_micro"),
        )
        .orderBy("decile")
    )


# Float discipline (the queries module docstring): counts are exact bigints;
# Wilson bounds are single IEEE expressions on exact integers, rounded once
# to micro.

# ---------------------------------------------------------------------------
# Wilson score interval
# ---------------------------------------------------------------------------
#
# Wilson 95% score interval for per-nation return rates — the
# interval every dashboard should show instead of the raw ratio
# (normal-approximation intervals collapse at small n / extreme p;
# Wilson stays inside [0,1] and behaves at n=1).  Counts are exact
# bigints; each bound is ONE deterministic double expression over
# them, rounded once to micro-units.

_WILSON_Z = 1.96  # 95% two-sided


@register(
    "orders_wilson_ci",
    oracle=f"""
    WITH counts AS (
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    )
    SELECT nation, n_lines, n_returned,
           CAST(round(1000000.0 * n_returned / n_lines) AS BIGINT)
               AS rate_micro,
           CAST(round(1000000.0 *
                (n_returned + {_WILSON_Z} * {_WILSON_Z} / 2
                 - {_WILSON_Z} * sqrt(
                       n_returned * 1.0 * (n_lines - n_returned) / n_lines
                       + {_WILSON_Z} * {_WILSON_Z} / 4))
                / (n_lines + {_WILSON_Z} * {_WILSON_Z})) AS BIGINT)
               AS wilson_lo_micro,
           CAST(round(1000000.0 *
                (n_returned + {_WILSON_Z} * {_WILSON_Z} / 2
                 + {_WILSON_Z} * sqrt(
                       n_returned * 1.0 * (n_lines - n_returned) / n_lines
                       + {_WILSON_Z} * {_WILSON_Z} / 4))
                / (n_lines + {_WILSON_Z} * {_WILSON_Z})) AS BIGINT)
               AS wilson_hi_micro
    FROM counts
    ORDER BY nation
    """,
    doc=f"Wilson 95% score interval (z={_WILSON_Z}) for per-nation "
        "return rates — the binomial interval that stays inside [0,1] "
        "and does not collapse at small n, vs the naive normal "
        "interval (the reason it is the default in every A/B platform; "
        "companion to events_ab_test_ztest's point test). The "
        "k + z^2/2 +- z*sqrt(k(n-k)/n + z^2/4) over (n + z^2) form is "
        "algebraically identical to the p-hat form but keeps the "
        "numerator in COUNT units, so the only division is the final "
        "one: each bound is one deterministic IEEE expression over "
        "exact bigint counts, rounded once to micro-units — "
        "engine-exact. The 100 TB shape: dims broadcast, one partial-"
        "combining rollup to the 25-nation frame, map-side arithmetic "
        "after; nothing but the rollup crosses the wire.",
)
def orders_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    counts = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("n_returned"),
        )
    )
    z = _WILSON_Z
    k, nn = F.col("n_returned"), F.col("n_lines")
    spread = F.sqrt(k * 1.0 * (nn - k) / nn + z * z / 4)
    den = nn + z * z
    return counts.select(
        "nation",
        "n_lines",
        "n_returned",
        F.round(F.lit(1_000_000.0) * k / nn).cast("bigint").alias("rate_micro"),
        F.round(F.lit(1_000_000.0) * (k + z * z / 2 - z * spread) / den)
        .cast("bigint")
        .alias("wilson_lo_micro"),
        F.round(F.lit(1_000_000.0) * (k + z * z / 2 + z * spread) / den)
        .cast("bigint")
        .alias("wilson_hi_micro"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Supplier concentration HHI
# ---------------------------------------------------------------------------
#
# Herfindahl-Hirschman index of supplier revenue concentration per
# nation — the antitrust-grade concentration scalar behind "how
# fragile is this nation's supply base"; squared cent sums widen to
# decimal(38,0)/HUGEINT (they exceed int64 at bench scale), the final
# ratio is one rounded IEEE expression, and the DOJ-style
# classification bands compare the rounded integer.


@register(
    "orders_supplier_hhi",
    oracle="""
    WITH rev AS (
        SELECT n.n_name AS nation, l.l_suppkey AS sk,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               -- HUGEINT: squared cent sums exceed int64 at bench scale
               sum(CAST(cents AS HUGEINT) * cents) AS ssq
        FROM rev GROUP BY 1
    )
    SELECT nation, n_suppliers, total_cents,
           CAST(round(1000000.0 * CAST(ssq AS DOUBLE)
                      / (CAST(total_cents AS DOUBLE) * total_cents))
                AS BIGINT) AS hhi_micro,
           CASE WHEN CAST(round(1000000.0 * CAST(ssq AS DOUBLE)
                      / (CAST(total_cents AS DOUBLE) * total_cents))
                     AS BIGINT) < 150000 THEN 'unconcentrated'
                WHEN CAST(round(1000000.0 * CAST(ssq AS DOUBLE)
                      / (CAST(total_cents AS DOUBLE) * total_cents))
                     AS BIGINT) < 250000 THEN 'moderate'
                ELSE 'high' END AS concentration
    FROM agg
    ORDER BY nation
    """,
    doc="Herfindahl-Hirschman index of supplier revenue concentration "
        "per nation — sum of squared market shares, the antitrust-"
        "grade 'how fragile is this supply base' scalar, with the "
        "standard DOJ bands (0.15/0.25, here in micro-units) deciding "
        "the class on the ROUNDED integer so the verdict is engine-"
        "exact. Squared cent sums widen BEFORE multiplying "
        "(decimal(38,0) / HUGEINT — they pass int64 around bench "
        "scale, the same ceiling the EM and PCA accumulators hit); "
        "the index itself is one rounded IEEE expression over exact "
        "sums. The 100 TB shape: supplier and nation dims broadcast, "
        "lineitem partial-combines onto the (nation, supplier) frame, "
        "and the per-nation fold is algebraic — nothing but the "
        "rollup crosses the wire.",
)
def orders_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(
            F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    agg = rev.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("ssq"),
    )
    hhi = F.round(
        F.lit(1_000_000.0)
        * F.col("ssq").cast("double")
        / (F.col("total_cents").cast("double") * F.col("total_cents"))
    ).cast("bigint")
    return agg.select(
        "nation",
        "n_suppliers",
        "total_cents",
        hhi.alias("hhi_micro"),
        F.when(hhi < 150_000, "unconcentrated")
        .when(hhi < 250_000, "moderate")
        .otherwise("high")
        .alias("concentration"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Blocked fuzzy entity matching
# ---------------------------------------------------------------------------
#
# Blocked fuzzy matches: nearest neighbor by Levenshtein edit distance
# within (brand) blocks over part names — the blocking + pairwise-
# verify shape of entity resolution, with the quadratic confined to
# fixed-size blocks and a deterministic (distance, key) tie-break.


@register(
    "part_fuzzy_matches",
    oracle="""
    WITH p AS (
        SELECT p_partkey, lower(p_name) AS name, p_brand, p_size
        FROM part
    ),
    pairs AS (
        SELECT a.p_brand AS brand, a.p_size AS size_blk,
               a.p_partkey AS key_a, b.p_partkey AS key_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY brand, size_blk
                   ORDER BY dist, key_a, key_b) AS rn,
               count(*) OVER (PARTITION BY brand, size_blk) AS n_pairs
        FROM pairs
    )
    SELECT brand, size_blk, CAST(n_pairs AS BIGINT) AS n_pairs,
           dist AS min_dist, key_a AS closest_a, key_b AS closest_b
    FROM ranked WHERE rn = 1
    ORDER BY brand, size_blk
    """,
    doc="Blocked fuzzy entity matching over part names: the blocking + "
        "pairwise-verify shape of record linkage — candidate pairs form "
        "ONLY within a (brand, size) block (the quadratic is "
        "confined to fixed-size blocks, never the table; the coarser "
        "brand-only key measured 40x more Levenshtein evaluations for "
        "the same nearest pairs), edit distance verifies, and each "
        "block reports its nearest pair under a deterministic "
        "(distance, key_a, key_b) tie-break via a window PARTITIONED "
        "by the block key — fully parallel. The 100 TB shape: block "
        "keys get finer as blocks grow (add p_type — the standard "
        "blocking-key refinement), pairs stay sum-of-block-squares, "
        "and the edit distance runs JVM-side (built-in levenshtein, "
        "no Python).",
)
def part_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    p = table(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("name"), "p_brand", "p_size"
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_brand").alias("brand"),
        F.col("a.p_size").alias("size_blk"),
        F.col("a.p_partkey").alias("key_a"),
        F.col("b.p_partkey").alias("key_b"),
        F.levenshtein(F.col("a.name"), F.col("b.name")).cast("bigint").alias("dist"),
    )
    w = Window.partitionBy("brand", "size_blk").orderBy("dist", "key_a", "key_b")
    wc = Window.partitionBy("brand", "size_blk")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_pairs", F.count("*").over(wc).cast("bigint"))
        .where(F.col("rn") == 1)
        .select(
            "brand",
            "size_blk",
            "n_pairs",
            F.col("dist").alias("min_dist"),
            F.col("key_a").alias("closest_a"),
            F.col("key_b").alias("closest_b"),
        )
        .orderBy("brand", "size_blk")
    )


# ---------------------------------------------------------------------------
# FIFO allocation: returns matched to earlier shipments of the same part
# ---------------------------------------------------------------------------
#
# FIFO allocation: returned quantities matched to earlier shipments of
# the same part, first-in-first-out — both streams become half-open
# intervals on the CUMULATIVE-quantity axis (one keyed cumsum window
# each) and FIFO matching IS interval overlap on that axis; allocated
# quantity is the overlap length.  Inventory costing, lot tracking and
# payment application are all this operator.


@register(
    "orders_fifo_allocation",
    oracle="""
    WITH ship AS (
        SELECT l_partkey AS partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM lineitem WHERE l_returnflag <> 'R'
    ),
    ret AS (
        SELECT l_partkey AS partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM lineitem WHERE l_returnflag = 'R'
    ),
    alloc AS (
        SELECT s.partkey,
               least(s.cum, r.cum) - greatest(s.cum - s.qty, r.cum - r.qty)
                   AS alloc_qty
        FROM ship s JOIN ret r
          ON s.partkey = r.partkey
         AND s.cum - s.qty < r.cum AND r.cum - r.qty < s.cum
    ),
    rtot AS (
        SELECT partkey, CAST(sum(qty) AS BIGINT) AS returned_qty
        FROM ret GROUP BY partkey
    )
    SELECT a.partkey,
           CAST(count(*) AS BIGINT) AS n_allocations,
           CAST(sum(a.alloc_qty) AS BIGINT) AS matched_qty,
           CAST(t.returned_qty - sum(a.alloc_qty) AS BIGINT)
               AS unmatched_return_qty
    FROM alloc a JOIN rtot t USING (partkey)
    GROUP BY a.partkey, t.returned_qty
    ORDER BY a.partkey
    """,
    doc="FIFO allocation — returned quantities matched to the earliest "
        "shipments of the same part, first-in-first-out: each stream "
        "becomes half-open intervals on the CUMULATIVE-quantity axis "
        "(one keyed cumsum window per stream, ordered by ship date with "
        "a full key tiebreak), and FIFO matching IS interval overlap on "
        "that axis — allocated qty = overlap length, exactly the lot-"
        "matching algorithm inventory costing and payment application "
        "run, with no loop and no driver state. The overlap join is "
        "operators/rangejoin.interval_overlap_join (W=64, closed form "
        "via hi-1 on integer quantities), claim-bin deduped. The 100 TB "
        "shape: both windows are keyed by part (never global), the join "
        "is a binned equi-join per part, and the explode factor is "
        "line-qty/64 <= 1 for TPC-H's 1..50 quantities. Exact bigint "
        "quantities throughout.",
)
def orders_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_returnflag",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def stream(df: DataFrame, prefix: str) -> DataFrame:
        cum = F.sum("qty").over(w).cast("bigint")
        return df.select(
            "partkey",
            F.col("qty").alias(f"{prefix}_qty"),
            (cum - F.col("qty")).alias(f"{prefix}_lo"),
            cum.alias(f"{prefix}_hi"),
        )

    ship = stream(li.where(F.col("l_returnflag") != "R"), "s")
    ret = stream(li.where(F.col("l_returnflag") == "R"), "r").localCheckpoint()
    # closed-interval form of half-open [lo, hi): join on [lo, hi-1]
    alloc = interval_overlap_join(
        ship.withColumn("s_hi_c", F.col("s_hi") - 1),
        ret.withColumn("r_hi_c", F.col("r_hi") - 1),
        left_lo="s_lo",
        left_hi="s_hi_c",
        right_lo="r_lo",
        right_hi="r_hi_c",
        bin_width=64,
        keys=["partkey"],
    ).select(
        "partkey",
        (
            F.least("s_hi", "r_hi") - F.greatest("s_lo", "r_lo")
        ).alias("alloc_qty"),
    )
    rtot = ret.groupBy("partkey").agg(
        F.sum("r_qty").cast("bigint").alias("returned_qty")
    )
    return (
        alloc.groupBy("partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_allocations"),
            F.sum("alloc_qty").cast("bigint").alias("matched_qty"),
        )
        .join(rtot, "partkey")
        .select(
            "partkey",
            "n_allocations",
            "matched_qty",
            (F.col("returned_qty") - F.col("matched_qty"))
            .cast("bigint")
            .alias("unmatched_return_qty"),
        )
        .orderBy("partkey")
    )
