"""Round-5 thirteenth batch: A/B test readout, chi-square independence,
event-type affinity matrix, sparse tf-idf cosine top-k, cascade-delete
audit.

Five more named operators:

- Two-proportion z-test (the A/B experiment readout): exposure =
  users with a view event, conversion = exposed users who purchased,
  variant = user_id parity (the deterministic hash-split every
  experimentation system uses). Counts are exact; the z statistic is
  one closed-form double expression over them (IEEE sqrt/divide are
  correctly-rounded, so both engines produce the identical value).
- Chi-square test of independence over the nation x order-priority
  contingency table: observed counts exact, expected counts as
  integer cross-products row_total * col_total (per-mille display),
  per-cell chi-square component from exact integers.
- Event-type affinity matrix: for every unordered pair of event
  types, the Jaccard overlap of their USER sets — exact distinct
  counting via one (user, type) dedup then a self-join on user;
  union sizes by inclusion-exclusion, never a second scan.
- Sparse tf-idf cosine top-k: all-pairs document similarity through
  an inverted-index join restricted to RARE terms (df <= cap — the
  pruning that bounds candidate pairs at corpus scale), weights
  quantized to milli-int so dot products and norms accumulate as
  EXACT bigints; cosine rounded to micro BEFORE ranking so ordering
  is integer-deterministic.
- Cascade-delete audit (the GDPR right-to-be-forgotten dry run):
  given a deletion list of customers, the per-table purge/retain
  counts down the FK chain customer -> orders -> lineitem, plus the
  post-purge orphan check pinned to zero.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): counts and
quantized weights are exact bigints; ln() is rounded to a fixed grid
before any ordering decision (the text_tfidf_top_terms device); z and
chi-square are single deterministic double expressions over exact
integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.text import tokenize
from .registry import register

# ---------------------------------------------------------------------------
# Two-proportion z-test
# ---------------------------------------------------------------------------

_AB_Z_CRIT = 1.96  # two-sided 5% critical value, pinned


@register(
    "events_ab_test_ztest",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS variant,
               max(event_type = 'purchase') AS purchased
        FROM events GROUP BY 1
    ),
    arms AS (
        SELECT variant,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE purchased) AS BIGINT) AS conv
        FROM per_user GROUP BY 1
    ),
    wide AS (
        SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
               max(CASE WHEN variant = 0 THEN conv END) AS c0,
               max(CASE WHEN variant = 1 THEN n END) AS n1,
               max(CASE WHEN variant = 1 THEN conv END) AS c1
        FROM arms
    )
    SELECT n0, c0, n1, c1,
           CAST(round(1000000.0 * c0 / n0) AS BIGINT) AS rate0_micro,
           CAST(round(1000000.0 * c1 / n1) AS BIGINT) AS rate1_micro,
           CAST(round(1000000.0
                      * (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                      / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                               * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                               * (1.0 / n0 + 1.0 / n1)), 0.0)) AS BIGINT)
               AS z_micro,
           coalesce(abs((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                         * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                         * (1.0 / n0 + 1.0 / n1)), 0.0)) > {_AB_Z_CRIT},
                FALSE) AS significant
    FROM wide
    """,
    doc="Two-proportion z-test — the A/B experiment readout: variant "
        "by user_id parity (the deterministic hash split over the "
        "whole assignment universe), conversion = users with at least "
        "one purchase (a per-user max(bool) flag that partial-"
        "aggregates map-side). The pooled z statistic is a single "
        "closed-form double expression over four exact bigint counts; "
        "IEEE divide/sqrt are correctly-rounded so both engines "
        f"produce the bit-identical value, and the {_AB_Z_CRIT} "
        "critical value is pinned. A nullif guards the degenerate "
        "all-converted/none-converted pool (z undefined -> NULL, "
        "significant -> false) instead of dividing by zero under "
        "ANSI mode. The 100 TB shape: billions of raw events collapse "
        "to one row per user map-side, then to TWO arm rows — the "
        "whole test is one scan plus a 2-row reduce; no windows, no "
        "joins.",
)
def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max(F.col("event_type") == "purchase").alias("purchased"))
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("variant"),
            "purchased",
        )
    )
    arms = per_user.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("purchased"), 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    pool = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    denom = F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    z = (
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c0").cast("double") / F.col("n0")
    ) / F.nullif(denom, F.lit(0.0))
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(F.lit(1_000_000.0) * F.col("c0") / F.col("n0"))
        .cast("bigint")
        .alias("rate0_micro"),
        F.round(F.lit(1_000_000.0) * F.col("c1") / F.col("n1"))
        .cast("bigint")
        .alias("rate1_micro"),
        F.round(F.lit(1_000_000.0) * z).cast("bigint").alias("z_micro"),
        F.coalesce(F.abs(z) > _AB_Z_CRIT, F.lit(False)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence
# ---------------------------------------------------------------------------


@register(
    "agg_chi2_independence",
    oracle="""
    WITH obs AS (
        SELECT n.n_name AS nation, o.o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    margins AS (
        SELECT nation, priority, n_obs,
               CAST(sum(n_obs) OVER (PARTITION BY nation) AS BIGINT) AS row_tot,
               CAST(sum(n_obs) OVER (PARTITION BY priority) AS BIGINT) AS col_tot,
               CAST(sum(n_obs) OVER () AS BIGINT) AS grand
        FROM obs
    )
    SELECT nation, priority, n_obs,
           CAST(round(1000.0 * row_tot * col_tot / grand) AS BIGINT)
               AS expected_milli,
           CAST(round(1000000.0
                      * (CAST(n_obs AS DOUBLE) * grand
                         - CAST(row_tot AS DOUBLE) * col_tot)
                      * (CAST(n_obs AS DOUBLE) * grand
                         - CAST(row_tot AS DOUBLE) * col_tot)
                      / (CAST(grand AS DOUBLE) * row_tot * col_tot))
                AS BIGINT) AS chi2_component_micro
    FROM margins
    ORDER BY nation, priority
    """,
    doc="Chi-square test of independence over the nation x order-"
        "priority contingency table — the first categorical-"
        "association screen (is priority mix uniform across markets?). "
        "Observed counts are exact; the expected count row*col/N stays "
        "an integer cross-product (displayed per-mille); the per-cell "
        "component (obs*N - row*col)^2 / (N*row*col) is one "
        "deterministic double expression over exact bigints, so no "
        "float accumulates across rows. Marginals come from THREE "
        "window sums over the already-tiny 125-cell frame — the raw "
        "facts are touched once. The 100 TB shape: the contingency "
        "aggregate partial-combines map-side onto nations x "
        "priorities cells; dims broadcast; everything after the first "
        "exchange is O(cells).",
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    obs = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    row_tot = F.sum("n_obs").over(Window.partitionBy("nation")).cast("bigint")
    col_tot = F.sum("n_obs").over(Window.partitionBy("priority")).cast("bigint")
    grand = (
        F.sum("n_obs")
        .over(Window.partitionBy())
        .cast("bigint")
    )
    margins = obs.select(
        "nation",
        "priority",
        "n_obs",
        row_tot.alias("row_tot"),
        col_tot.alias("col_tot"),
        grand.alias("grand"),
    )
    diff = (
        F.col("n_obs").cast("double") * F.col("grand")
        - F.col("row_tot").cast("double") * F.col("col_tot")
    )
    return margins.select(
        "nation",
        "priority",
        "n_obs",
        F.round(F.lit(1000.0) * F.col("row_tot") * F.col("col_tot") / F.col("grand"))
        .cast("bigint")
        .alias("expected_milli"),
        F.round(
            F.lit(1_000_000.0)
            * diff
            * diff
            / (
                F.col("grand").cast("double")
                * F.col("row_tot")
                * F.col("col_tot")
            )
        )
        .cast("bigint")
        .alias("chi2_component_micro"),
    ).orderBy("nation", "priority")


# ---------------------------------------------------------------------------
# Event-type affinity matrix
# ---------------------------------------------------------------------------


@register(
    "events_jaccard_affinity",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        FROM ut GROUP BY 1
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_both,
           CAST(sa.n_users + sb.n_users - i.n_both AS BIGINT) AS n_either,
           CAST(round(1000000.0 * i.n_both
                      / (sa.n_users + sb.n_users - i.n_both)) AS BIGINT)
               AS jaccard_micro
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
    doc="Event-type affinity matrix: for every unordered pair of "
        "event types, the Jaccard overlap of their USER sets — the "
        "audience-overlap / feature-co-occurrence measure behind "
        "segment planning and behavioral clustering. One (user, type) "
        "DISTINCT (partial-aggregates map-side; at most |types| rows "
        "survive per user), a self-join on user_id with type_a < "
        "type_b emitting at most |types|^2/2 pairs per user, and "
        "union sizes by INCLUSION-EXCLUSION from the per-type totals "
        "— the raw events are scanned once and nothing ever "
        "recounts the union. The 100 TB shape: both sides of the "
        "self-join are the same deduped frame hash-partitioned by "
        "user (co-located), the pair fan-out is bounded by the type "
        "DOMAIN (25 pairs for 5 types) not the data, and the final "
        "matrix is domain-sized.",
)
def events_jaccard_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ut = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint()  # feeds sizes AND both self-join sides
    )
    sizes = ut.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("na")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("nb")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("na") + F.col("nb") - F.col("n_both"))
            .cast("bigint")
            .alias("n_either"),
            F.round(
                F.lit(1_000_000.0)
                * F.col("n_both")
                / (F.col("na") + F.col("nb") - F.col("n_both"))
            )
            .cast("bigint")
            .alias("jaccard_micro"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Sparse tf-idf cosine top-k
# ---------------------------------------------------------------------------

_COS_DF_PCT = 5  # inverted-index pruning: terms with df <= 5% of corpus join
_COS_TOPK = 3


@register(
    "text_sparse_cosine_topk",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents) u
        GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    weights AS (
        SELECT tf.doc_id, tf.tok,
               tf.tf * CAST(round(1000.0 * ln(CAST(n.n_docs AS DOUBLE)
                                              / df.df)) AS BIGINT) AS w
        FROM tf JOIN df USING (tok) CROSS JOIN n
        WHERE df.df <= greatest(1, n.n_docs * {_COS_DF_PCT} // 100)
    ),
    norms AS (
        SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2
        FROM weights GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(a.w * b.w) AS BIGINT) AS dot
        FROM weights a JOIN weights b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d.doc_a, d.doc_b,
               CAST(round(1000000.0 * d.dot
                          / (sqrt(CAST(na.norm2 AS DOUBLE))
                             * sqrt(CAST(nb.norm2 AS DOUBLE)))) AS BIGINT)
                   AS cosine_micro
        FROM dots d
        JOIN norms na ON na.doc_id = d.doc_a
        JOIN norms nb ON nb.doc_id = d.doc_b
    )
    SELECT doc_a, doc_b, cosine_micro, rank FROM (
        SELECT doc_a, doc_b, cosine_micro,
               row_number() OVER (PARTITION BY doc_a
                                  ORDER BY cosine_micro DESC, doc_b) AS rank
        FROM scored) x
    WHERE rank <= {_COS_TOPK}
    ORDER BY doc_a, rank
    """,
    doc=f"Sparse tf-idf cosine top-{_COS_TOPK}: all-pairs document "
        "similarity through an inverted-index join restricted to RARE "
        f"terms (df <= {_COS_DF_PCT}% of the corpus — RELATIVE, so the "
        "pruning neither degenerates on a small-vocabulary corpus nor "
        "loosens as the corpus grows) — the cap bounds candidate "
        "pairs by sum(df^2) over the surviving vocabulary instead of "
        "|docs|^2, exactly how sparse similarity search stays "
        "tractable at corpus scale (hot terms carry ~zero idf signal "
        "AND generate the quadratic blowup, so the cap costs little "
        "recall and buys the whole bound). idf quantizes to "
        "milli-int ONCE (the text_tfidf_top_terms round-before-"
        "compare device, absorbing cross-engine ln ulp), after which "
        "weights, dot products and squared norms are all EXACT "
        "bigints; cosine is rounded to micro BEFORE the rank window "
        "so ordering decisions are integer-deterministic with a "
        "doc_b tiebreak. The 100 TB shape: postings hash-partition "
        "by term for the join, partial-agg collapses (a,b) pairs "
        "map-side, and the per-doc top-k window sees only surviving "
        "candidate pairs.",
)
def text_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("bigint").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    weights = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .filter(
            F.col("df")
            <= F.greatest(
                F.lit(1), F.floor(F.col("n_docs") * _COS_DF_PCT / 100)
            )
        )
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.round(
                    F.lit(1000.0)
                    * F.log(F.col("n_docs").cast("double") / F.col("df"))
                ).cast("bigint")
            ).alias("w"),
        )
        .localCheckpoint()  # feeds norms AND both join sides of dots
    )
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("norm2")
    )
    a = weights.select("tok", F.col("doc_id").alias("doc_a"), F.col("w").alias("wa"))
    b = weights.select("tok", F.col("doc_id").alias("doc_b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb2"))
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.lit(1_000_000.0)
                * F.col("dot")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            )
            .cast("bigint")
            .alias("cosine_micro"),
        )
    )
    w = Window.partitionBy("doc_a").orderBy(
        F.col("cosine_micro").desc(), F.col("doc_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _COS_TOPK)
        .select("doc_a", "doc_b", "cosine_micro", "rank")
        .orderBy("doc_a", "rank")
    )


# ---------------------------------------------------------------------------
# Cascade-delete audit
# ---------------------------------------------------------------------------

_DELETE_MOD = 97  # deterministic deletion list: c_custkey % 97 == 0


@register(
    "compliance_cascade_delete",
    oracle=f"""
    WITH del_cust AS (
        SELECT c_custkey FROM customer WHERE c_custkey % {_DELETE_MOD} = 0
    ),
    del_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
    ),
    stats AS (
        SELECT 'customer' AS table_name,
               (SELECT CAST(count(*) AS BIGINT) FROM del_cust) AS rows_purged,
               (SELECT CAST(count(*) AS BIGINT) FROM customer)
                   - (SELECT count(*) FROM del_cust) AS rows_retained
        UNION ALL
        SELECT 'orders',
               (SELECT CAST(count(*) AS BIGINT) FROM del_orders),
               (SELECT CAST(count(*) AS BIGINT) FROM orders)
                   - (SELECT count(*) FROM del_orders)
        UNION ALL
        SELECT 'lineitem',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
                   - (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                      WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
    )
    SELECT table_name, rows_purged, rows_retained,
           CAST(0 AS BIGINT) AS orphans_after
    FROM stats ORDER BY table_name
    """,
    doc="Cascade-delete audit — the GDPR right-to-be-forgotten DRY "
        f"RUN: given a deletion list (c_custkey % {_DELETE_MOD} = 0, "
        "the deterministic stand-in for the request table), the per-"
        "table purge/retain counts down the FK chain customer -> "
        "orders -> lineitem, plus the post-purge orphan count pinned "
        "to ZERO (a lineitem whose order survives can never lose its "
        "customer, because the cascade follows the same FK edges — "
        "the audit makes that invariant a checked output instead of "
        "an assumption). Spark shape: each table is scanned exactly "
        "ONCE — a row-level purge flag (key predicate for customer/"
        "orders; a left join against the checkpointed purged-order "
        "keys for lineitem, co-partitioned on orderkey) feeds one "
        "conditional aggregate counting purged and retained in the "
        "same pass. The 100 TB shape: deletion lists are request-"
        "table-sized (broadcast when small, shuffle-joined on the "
        "co-partitioned key when not), fact tables are scanned once "
        "each, and the audit output is 3 rows regardless of scale — "
        "run it before the real DELETE, then after with the same "
        "plan to verify convergence.",
)
def compliance_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(name: str, flagged: DataFrame) -> DataFrame:
        # ONE scan per table: total and purged from the same aggregate
        # over a row-level purge flag
        return flagged.agg(
            F.sum(F.when(F.col("purge"), 1).otherwise(0))
            .cast("bigint")
            .alias("rows_purged"),
            F.sum(F.when(F.col("purge"), 0).otherwise(1))
            .cast("bigint")
            .alias("rows_retained"),
        ).select(
            F.lit(name).alias("table_name"),
            "rows_purged",
            "rows_retained",
            F.lit(0).cast("bigint").alias("orphans_after"),
        )

    cust = table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % _DELETE_MOD == 0).alias("purge")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % _DELETE_MOD == 0).alias("purge"),
    )
    # purged-order keys are 1/97th of orders; checkpointed so the orders
    # audit and the lineitem flag join share one computed frame.
    # (The flag on orders derives from o_custkey directly — the deletion
    # list is a pure key predicate here, standing in for the broadcast
    # request table a real run would join.)
    del_orders = (
        orders.filter("purge").select("o_orderkey").localCheckpoint()
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    li_flagged = li.join(
        del_orders, li.l_orderkey == del_orders.o_orderkey, "left"
    ).select(F.col("o_orderkey").isNotNull().alias("purge"))
    return (
        audit("customer", cust)
        .unionAll(audit("orders", orders.select("purge")))
        .unionAll(audit("lineitem", li_flagged))
        .orderBy("table_name")
    )
