"""Round-8 first batch: the interval-overlap join family.

Four named operators built on ``operators/rangejoin`` (the binned
equi-join rewrite of inequality joins — never a nested loop):

- Interval-overlap pairs: concurrent open orders of the same customer
  (two order spans overlapping in time), via the new
  ``interval_overlap_join`` primitive with its claim-bin dedup.
- IP-in-CIDR lookup with longest-prefix match: the classic networking
  enrichment — CIDR blocks become [base, base+2^(32-len)-1] integer
  ranges, ``bin_range_join`` turns the containment test into an
  equi-join, and a max_by on prefix length implements LPM.
- SCD2 point-in-time join: lineitem shipments joined to the customer
  priority-tier version VALID AT SHIP TIME (the feature-store
  correctness primitive — joining today's dim onto yesterday's facts is
  the classic leakage bug).  Versions derive from the orders stream via
  a keyed lead() window; the PIT lookup is a binned range join on
  (custkey, epoch-day).
- FIFO allocation: returned quantities matched to earlier shipments of
  the same part, first-in-first-out — both streams become half-open
  intervals on the CUMULATIVE-quantity axis (one keyed cumsum window
  each) and FIFO matching IS interval overlap on that axis; allocated
  quantity is the overlap length.  Inventory costing, lot tracking and
  payment application are all this operator.

Reference parity: none — the reference (glassdoor-scraper/src/main.py)
is single-process pandas; these are the distributed temporal-join
primitives its daily-batch design never needed.  Determinism
(plans/queries.py header): all joins/aggregates on exact bigints (epoch
days, integer quantities, rounded cents); no floats cross an engine
boundary unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import literal_dim, table
from ..operators.rangejoin import bin_range_join, interval_overlap_join
from .registry import register

_EPOCH = "1970-01-01"


def _days(col: str):
    return F.datediff(F.col(col).cast("date"), F.lit(_EPOCH).cast("date")).cast(
        "bigint"
    )


# ---------------------------------------------------------------------------
# Interval-overlap pairs: concurrent open orders per customer
# ---------------------------------------------------------------------------


@register(
    "join_interval_overlaps",
    oracle="""
    WITH spans AS (
        SELECT o.o_custkey AS custkey, o.o_orderkey AS ok,
               datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
                   AS lo,
               max(datediff('day', DATE '1970-01-01',
                            CAST(l.l_shipdate AS DATE))) AS hi
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
    ),
    pairs AS (
        SELECT a.custkey,
               least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1 AS overlap_days
        FROM spans a JOIN spans b
          ON a.custkey = b.custkey AND a.ok < b.ok
         AND a.lo <= b.hi AND b.lo <= a.hi
    )
    SELECT custkey,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(overlap_days) AS BIGINT) AS max_overlap_days,
           CAST(sum(overlap_days) AS BIGINT) AS sum_overlap_days
    FROM pairs GROUP BY custkey
    ORDER BY custkey
    """,
    doc="Concurrent open orders per customer — pairs of order spans "
        "[order date, last ship date] of the SAME customer that overlap "
        "in time, found by operators/rangejoin.interval_overlap_join: "
        "both span sets explode to 64-day bins, the pair equi-joins on "
        "(custkey, bin) and is CLAIMED exactly once in the bin holding "
        "max(lo_a, lo_b), so no post-join distinct exists anywhere in "
        "the plan. The naive form is a per-customer self "
        "theta-join that Spark executes as BNLJ. The 100 TB shape: the "
        "explode factor is span/64 (bounded by TPC-H's ~4-month spans), "
        "the join is an ordinary shuffled equi-join AQE can re-balance, "
        "and the a.ok < b.ok tiebreak halves the output. Exact bigint "
        "day arithmetic throughout.",
)
def join_interval_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("ok"),
            _days("o_orderdate").alias("lo"),
        )
        .agg(F.max(_days("l_shipdate")).alias("hi"))
        .localCheckpoint()  # one build feeds both self-join sides
    )
    a = spans.select("custkey", F.col("ok").alias("a_ok"),
                     F.col("lo").alias("a_lo"), F.col("hi").alias("a_hi"))
    b = spans.select("custkey", F.col("ok").alias("b_ok"),
                     F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi"))
    pairs = interval_overlap_join(
        a, b,
        left_lo="a_lo", left_hi="a_hi",
        right_lo="b_lo", right_hi="b_hi",
        bin_width=64, keys=["custkey"],
    ).where(F.col("a_ok") < F.col("b_ok"))
    overlap = (
        F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo") + 1
    ).alias("overlap_days")
    return (
        pairs.select("custkey", overlap)
        .groupBy("custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.max("overlap_days").cast("bigint").alias("max_overlap_days"),
            F.sum("overlap_days").cast("bigint").alias("sum_overlap_days"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# IP-in-CIDR lookup with longest-prefix match
# ---------------------------------------------------------------------------

# Deterministic CIDR plan: 16 covering /4 blocks, one more-specific /8
# inside each /4 (offset 3*2^24), and one /12 inside each of those /8s
# (offset 9*2^20) — ~6% and ~0.4% of the address space, so the hashed
# IPs exercise all three LPM levels at every SF.  Distinct prefix
# lengths nest strictly, so longest-prefix match is unambiguous.
_CIDR_BLOCKS: list[tuple[str, int, int]] = (
    [(f"net4_{k}", k << 28, 4) for k in range(16)]
    + [(f"net8_{k}", (k << 28) + 3 * (1 << 24), 8) for k in range(16)]
    + [(f"net12_{k}", (k << 28) + 3 * (1 << 24) + 9 * (1 << 20), 12) for k in range(16)]
    # anchors at base 0: ip(user_id=0) == 0 exists at every SF, so the
    # three-level /4 -> /8 -> /12 LPM chain is exercised deterministically
    + [("net8_anchor", 0, 8), ("net12_anchor", 0, 12)]
)
_IP_MULT = 2654435761  # Knuth multiplicative hash; exact in bigint both engines


def _cidr_values_sql() -> str:
    rows = [
        f"('{label}', CAST({base} AS BIGINT), "
        f"CAST({base + (1 << (32 - ln)) - 1} AS BIGINT), CAST({ln} AS INT))"
        for label, base, ln in _CIDR_BLOCKS
    ]
    return ", ".join(rows)


@register(
    "join_ip_cidr_lookup",
    oracle=f"""
    WITH ips AS (
        SELECT DISTINCT (user_id * {_IP_MULT}) % 4294967296 AS ip
        FROM events
    ),
    dim AS (
        SELECT * FROM (VALUES {_cidr_values_sql()})
            AS t(label, lo, hi, prefix_len)
    ),
    matched AS (
        SELECT ip, arg_max(label, prefix_len) AS label
        FROM ips JOIN dim ON ip BETWEEN lo AND hi
        GROUP BY ip
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_ips,
           CAST(min(ip) AS BIGINT) AS min_ip,
           CAST(max(ip) AS BIGINT) AS max_ip
    FROM matched GROUP BY label ORDER BY label
    """,
    doc="IP-in-CIDR enrichment with longest-prefix match — the "
        "canonical range-lookup at scale (geo/ASN tagging of every "
        "request log line). CIDR blocks become [base, base+2^(32-len)-1] "
        "bigint ranges; operators/rangejoin.bin_range_join (W=2^20) "
        "turns containment into an equi-join (a /4 block explodes to "
        "256 bins — the explode factor is the documented cost model, "
        "paid once on the KILOBYTE dim side); LPM = max_by(label, "
        "prefix_len) per IP, exact because nested prefixes always have "
        "distinct lengths. IPs derive from user_id by the Knuth "
        "multiplicative hash — exact bigint arithmetic DuckDB mirrors "
        "verbatim. At 100 TB the dim broadcasts and the fact side "
        "never shuffles: map-side join, then one aggregate.",
)
def join_ip_cidr_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ips = (
        table(spark, sf_dir, "events")
        .select(
            ((F.col("user_id") * _IP_MULT) % F.lit(4294967296)).alias("ip")
        )
        .distinct()
    )
    dim = literal_dim(
        spark,
        [
            (label, base, base + (1 << (32 - ln)) - 1, ln)
            for label, base, ln in _CIDR_BLOCKS
        ],
        "label string, lo long, hi long, prefix_len int",
    )
    matched = bin_range_join(
        ips,
        F.broadcast(dim),
        point_col="ip",
        lo_col="lo",
        hi_col="hi",
        bin_width=1 << 20,
    )
    lpm = matched.groupBy("ip").agg(
        F.max_by("label", "prefix_len").alias("label")
    )
    return (
        lpm.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_ips"),
            F.min("ip").cast("bigint").alias("min_ip"),
            F.max("ip").cast("bigint").alias("max_ip"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join
# ---------------------------------------------------------------------------

_PIT_CAP_DAY = 11000  # > every TPC-H ship date (1998-12-31 = 10 591)


@register(
    "join_scd2_point_in_time",
    oracle="""
    WITH daily AS (
        SELECT o_custkey AS custkey,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS eff_from,
               arg_max(o_orderpriority, o_orderkey) AS tier
        FROM orders GROUP BY 1, 2
    ),
    versions AS (
        SELECT custkey, tier, eff_from,
               coalesce(lead(eff_from) OVER (PARTITION BY custkey
                                             ORDER BY eff_from) - 1,
                        11000) AS eff_to
        FROM daily
    ),
    facts AS (
        SELECT o.o_custkey AS custkey,
               datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
                   AS ship_day,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT v.tier,
           CAST(count(*) AS BIGINT) AS n_shipments,
           CAST(sum(f.cents) AS BIGINT) AS revenue_cents
    FROM facts f JOIN versions v
      ON v.custkey = f.custkey
     AND f.ship_day BETWEEN v.eff_from AND v.eff_to
    GROUP BY v.tier ORDER BY v.tier
    """,
    doc="SCD2 point-in-time join — every lineitem shipment enriched "
        "with the customer's priority TIER VERSION valid at ship time, "
        "not today's: the feature-store/time-travel correctness "
        "primitive (training a model on current dim values against "
        "historical facts is the classic leakage bug this join "
        "prevents). Versions derive from orders via one KEYED lead() "
        "window (eff_to = next version start - 1, last capped); the PIT "
        "lookup is operators/rangejoin.bin_range_join on (custkey, "
        "epoch-day, W=64) — versions partition each customer's "
        "timeline, so every fact lands in exactly one version. The "
        "100 TB shape: version dim is orders-of-magnitude smaller than "
        "the shipment fact; the fact shuffles once on custkey (or never, "
        "under the bucketed layout), never sorts globally. Exact bigint "
        "days and cents.",
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        _days("o_orderdate").alias("eff_from"),
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("tier"))
    w = Window.partitionBy("custkey").orderBy("eff_from")
    versions = daily.select(
        "custkey",
        "tier",
        "eff_from",
        F.coalesce(
            F.lead("eff_from").over(w) - 1, F.lit(_PIT_CAP_DAY).cast("bigint")
        ).alias("eff_to"),
    )
    li = table(spark, sf_dir, "lineitem")
    facts = li.join(
        o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey")
    ).select(
        F.col("o_custkey").alias("custkey"),
        _days("l_shipdate").alias("ship_day"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    pit = bin_range_join(
        facts,
        versions,
        point_col="ship_day",
        lo_col="eff_from",
        hi_col="eff_to",
        bin_width=64,
        keys=["custkey"],
    )
    return (
        pit.groupBy("tier")
        .agg(
            F.count("*").cast("bigint").alias("n_shipments"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# FIFO allocation: returns matched to earlier shipments of the same part
# ---------------------------------------------------------------------------


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
