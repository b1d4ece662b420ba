"""Round-7 seventh batch: k-anonymity audit and a distribution-free
median confidence interval.

- k-anonymity / l-diversity audit: the standard privacy readout before a
  dataset leaves the building — equivalence classes over a
  quasi-identifier tuple, how many rows sit in classes smaller than k
  (re-identifiable), and the minimum distinct-sensitive-value count per
  class (l-diversity, the defense against homogeneity attacks).  Pure
  partial-aggregatable rollups.
- Median CI by the binomial rank bound: the textbook distribution-free
  interval — order statistics at ranks (n+1)/2 -/+ z*sqrt(n)/2 cover the
  median with ~95% confidence REGARDLESS of the distribution.  The rank
  arithmetic is data-dependent, which is exactly what
  operators/ranks.exact_rank_values' rank-expression contract exists
  for: the ranks are Column expressions of n, evaluated in-plan, and
  only the partitions containing a target rank ever sort.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline: counts and cent values are exact bigints;
the CI rank uses one IEEE-exact sqrt and one floor, mirrored verbatim
by the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import exact_rank_values
from .registry import register

# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit
# ---------------------------------------------------------------------------

_KA_K = 5  # classes smaller than this are re-identifiable


@register(
    "compliance_k_anonymity",
    oracle=f"""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS BIGINT) AS class_size,
               CAST(count(DISTINCT c_acctbal >= 0) AS BIGINT) AS l_div
        FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(class_size) AS BIGINT) AS n_rows,
           CAST(min(class_size) AS BIGINT) AS min_class_size,
           CAST(sum(CASE WHEN class_size < {_KA_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_below_k,
           CAST(sum(CASE WHEN class_size < {_KA_K} THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_below_k,
           CAST(min(l_div) AS BIGINT) AS min_l_diversity,
           min(class_size) >= {_KA_K} AS k_anonymous
    FROM classes
    """,
    doc=f"k-anonymity / l-diversity audit over the (nation, market-"
        "segment) quasi-identifier: equivalence-class sizes, how many "
        f"classes (and rows) fall below k={_KA_K} — the re-identifiable "
        "remainder a release gate must suppress or generalize — and the "
        "minimum l-diversity of the sensitive attribute (account-balance "
        "sign) per class, the defense against homogeneity attacks. The "
        "100 TB shape: ONE partial-combining groupBy collapses the table "
        "to the quasi-identifier domain, and the audit scalars fold in a "
        "1-row aggregate; nothing else moves. The release action "
        "(suppress/generalize) composes as a broadcast anti-join against "
        "the below-k class list.",
)
def compliance_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    classes = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("class_size"),
            F.countDistinct(F.col("c_acctbal") >= 0)
            .cast("bigint")
            .alias("l_div"),
        )
    )
    return classes.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.sum(F.when(F.col("class_size") < _KA_K, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_below_k"),
        F.sum(F.when(F.col("class_size") < _KA_K, F.col("class_size")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_k"),
        F.min("l_div").cast("bigint").alias("min_l_diversity"),
        (F.min("class_size") >= _KA_K).alias("k_anonymous"),
    )


# ---------------------------------------------------------------------------
# Distribution-free median CI (binomial rank bound)
# ---------------------------------------------------------------------------

_CI_Z = 1.96  # ~95% two-sided


@register(
    "agg_median_ci_binomial",
    oracle=f"""
    WITH data AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
        FROM orders
    ),
    r AS (
        SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM data
    ),
    ranks AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(greatest(1, CAST(floor((max(n) + 1) / 2.0
                    - {_CI_Z} * sqrt(CAST(max(n) AS DOUBLE)) / 2.0) AS BIGINT))
                    AS BIGINT) AS lo_rank,
               CAST(least(CAST(max(n) AS BIGINT),
                    CAST(floor((max(n) + 2) / 2.0
                    + {_CI_Z} * sqrt(CAST(max(n) AS DOUBLE)) / 2.0) AS BIGINT))
                    AS BIGINT) AS hi_rank
        FROM r
    )
    SELECT k.n AS n_orders, k.lo_rank, k.hi_rank,
           CAST(max(CASE WHEN r.rn = k.lo_rank THEN r.v END) AS BIGINT)
               AS ci_lo_cents,
           CAST(max(CASE WHEN r.rn = k.hi_rank THEN r.v END) AS BIGINT)
               AS ci_hi_cents
    FROM r CROSS JOIN ranks k
    GROUP BY k.n, k.lo_rank, k.hi_rank
    """,
    doc="Distribution-free ~95% confidence interval for the median of "
        "order totals via the binomial rank bound: the order statistics "
        "at ranks (n+1)/2 -/+ 1.96*sqrt(n)/2 bracket the true median "
        "with ~95% coverage for ANY distribution — the standard "
        "nonparametric CI (normal approximation to Binomial(n, 1/2)). "
        "The two ranks are DATA-DEPENDENT expressions of n, which is "
        "exactly the contract of operators/ranks.exact_rank_values: "
        "rank expressions evaluate in-plan against the total the "
        "pruning pass already computed (total_col), and only the "
        "partitions containing a target rank sort. Cents are exact "
        "bigints; the rank arithmetic uses one IEEE-exact sqrt and one "
        "floor, mirrored verbatim by the oracle. The 100 TB shape: one "
        "range shuffle + two candidate-partition sorts + P-row "
        "plumbing — no global sort, no single-partition window.",
)
def agg_median_ci_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        "o_orderkey",
    )
    z = F.lit(_CI_Z)

    def lo(n):
        return F.greatest(
            F.lit(1).cast("long"),
            F.floor((n + 1) / F.lit(2.0) - z * F.sqrt(n.cast("double")) / 2)
            .cast("long"),
        )

    def hi(n):
        return F.least(
            n.cast("long"),
            F.floor((n + 2) / F.lit(2.0) + z * F.sqrt(n.cast("double")) / 2)
            .cast("long"),
        )

    picks = exact_rank_values(
        data, ["v", "o_orderkey"], [lo, hi], rn_col="rn", total_col="n"
    )
    return picks.agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max(lo(F.col("n"))).cast("bigint").alias("lo_rank"),
        F.max(hi(F.col("n"))).cast("bigint").alias("hi_rank"),
        F.max(F.when(F.col("rn") == lo(F.col("n")), F.col("v")))
        .cast("bigint")
        .alias("ci_lo_cents"),
        F.max(F.when(F.col("rn") == hi(F.col("n")), F.col("v")))
        .cast("bigint")
        .alias("ci_hi_cents"),
    )
