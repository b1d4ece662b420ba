"""Round-7 second batch: cohort retention triangle, CUPED-adjusted A/B
readout, leakage-safe corpus split, blocked fuzzy entity matching.

Four more named operators:

- Weekly cohort retention triangle: users bucketed by first-active ISO
  week, distinct actives per (cohort, week-age) — the classic retention
  heatmap input, built from two partial-aggregatable rollups of the
  (user, week) DISTINCT frame.
- CUPED-adjusted experiment readout: variance-reduced A/B lift using
  the pre-period covariate (theta = cov(x,y)/var(x) from pooled exact
  integer sums), the standard trick that shrinks experiment confidence
  intervals 30-60% — one narrow scan, one per-user rollup, all moments
  as exact bigint-backed sums folded in a single 1-row aggregate.
- Leakage-safe train/test split: duplicate GROUPS (not documents) are
  the split unit, assigned by an md5 draw on the group key, so no
  duplicated text can sit in train while its copy sits in test — the
  contamination mechanism dedup papers warn about; the readout also
  counts how many groups a naive per-document split WOULD have torn
  across the boundary.
- Blocked fuzzy matches: nearest neighbor by Levenshtein edit distance
  within (brand) blocks over part names — the blocking + pairwise-
  verify shape of entity resolution, with the quadratic confined to
  fixed-size blocks and a deterministic (distance, key) tie-break.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline (plans/queries.py header): counts and cent
sums are exact bigints; CUPED's moments go through IEEE doubles in one
pinned expression order mirrored verbatim by the oracle (the
orders_trend_ols precedent); every reported rate is rounded once to
micro-units.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# Weekly cohort retention triangle
# ---------------------------------------------------------------------------


@register(
    "events_retention_triangle",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk
        FROM events
    ),
    first AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id),
    sizes AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
        FROM first GROUP BY cohort
    ),
    act AS (
        SELECT f.cohort, CAST((uw.wk - f.cohort) / 7 AS BIGINT) AS age_weeks,
               CAST(count(DISTINCT uw.user_id) AS BIGINT) AS active_users
        FROM uw JOIN first f ON f.user_id = uw.user_id
        GROUP BY 1, 2
    )
    SELECT CAST(a.cohort AS VARCHAR) AS cohort_week, a.age_weeks,
           a.active_users, s.cohort_users,
           CAST(round(1000000.0 * a.active_users / s.cohort_users) AS BIGINT)
               AS retention_micro
    FROM act a JOIN sizes s ON s.cohort = a.cohort
    ORDER BY cohort_week, age_weeks
    """,
    doc="Weekly cohort retention triangle: each user joins the cohort of "
        "their first active ISO week; for every (cohort, age-in-weeks) "
        "cell, the distinct active users and the retention rate in "
        "micro-units — the classic retention heatmap. The 100 TB shape: "
        "the event log collapses once to the DISTINCT (user, week) frame "
        "(partial-aggregatable), first-week per user is one more "
        "partial-combining min, and every later join/aggregate moves "
        "user-dim or calendar-sized data; cohort sizes broadcast.",
)
def events_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    uw = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("wk"),
        )
        .distinct()
        .localCheckpoint()  # feeds first-week AND the activity rollup
    )
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_users")
    )
    act = (
        uw.join(first, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("age_weeks"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
    )
    return (
        act.join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("string").alias("cohort_week"),
            "age_weeks",
            "active_users",
            "cohort_users",
            F.round(
                F.lit(1_000_000.0) * F.col("active_users") / F.col("cohort_users")
            )
            .cast("bigint")
            .alias("retention_micro"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


# ---------------------------------------------------------------------------
# CUPED-adjusted A/B readout
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-15"  # pre-period <= this date, post-period after


@register(
    "events_cuped_adjusted",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               ('0x' || substring(md5('cuped:' || CAST(user_id AS VARCHAR)),
                                  1, 4))::BIGINT % 2 AS arm,
               CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) <= DATE '{_CUPED_SPLIT}'
                    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
               CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) > DATE '{_CUPED_SPLIT}'
                    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(coalesce(sum(CASE WHEN arm = 0 THEN x END), 0) AS BIGINT) AS sx0,
               CAST(coalesce(sum(CASE WHEN arm = 1 THEN x END), 0) AS BIGINT) AS sx1,
               CAST(coalesce(sum(CASE WHEN arm = 0 THEN y END), 0) AS BIGINT) AS sy0,
               CAST(coalesce(sum(CASE WHEN arm = 1 THEN y END), 0) AS BIGINT) AS sy1
        FROM per_user
    ),
    t AS (
        SELECT *,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
        FROM s
    )
    SELECT n AS n_users, n0 AS n_arm0, n1 AS n_arm1,
           CAST(round(1000000.0 * theta) AS BIGINT) AS theta_micro,
           CAST(round(1000000.0 * (CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
                AS BIGINT) AS mean_y0_micro,
           CAST(round(1000000.0 * (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
                AS BIGINT) AS mean_y1_micro,
           CAST(round(1000000.0 * ((CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                - theta * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
                AS BIGINT) AS mean_y0_adj_micro,
           CAST(round(1000000.0 * ((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                - theta * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
                AS BIGINT) AS mean_y1_adj_micro,
           CAST(round(1000000.0
                * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                AS BIGINT) AS var_reduction_micro
    FROM t
    """,
    doc="CUPED-adjusted A/B readout (Deng et al. 2013): users hash into "
        "two arms (md5 draw, engine-replayable), the pre-period value "
        "sum is the covariate x, the post-period sum the metric y; "
        "theta = cov(x,y)/var(x) from POOLED moments, adjusted arm "
        "means y_bar - theta*(x_bar_arm - x_bar), and the variance-"
        "reduction factor rho^2 — the standard trick that shrinks "
        "experiment CIs by the pre/post correlation. The 100 TB shape: "
        "one narrow scan collapses map-side into the per-user rollup "
        "(one exchange on user_id), then ALL moments (n/Sx/Sy/Sxx/Sxy/"
        "Syy + per-arm sums) fold in ONE partial-combining 1-row "
        "aggregate — no second pass, no window anywhere. Moments are "
        "exact bigints; theta and the adjusted means go through IEEE "
        "doubles in one pinned expression order the oracle mirrors "
        "verbatim (the orders_trend_ols precedent), each reported once "
        "in micro-units.",
)
def events_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.col("ts").cast("date") <= F.lit(_CUPED_SPLIT).cast("date")
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(pre, cents)), F.lit(0))
            .cast("bigint")
            .alias("x"),
            F.coalesce(F.sum(F.when(~pre, cents)), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
        .withColumn(
            "arm",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % 2,
        )
    )
    s = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("x"))), F.lit(0))
        .cast("bigint")
        .alias("sx0"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("x"))), F.lit(0))
        .cast("bigint")
        .alias("sx1"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("y"))), F.lit(0))
        .cast("bigint")
        .alias("sy0"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("y"))), F.lit(0))
        .cast("bigint")
        .alias("sy1"),
    )

    def d(c: str) -> Column:
        return F.col(c).cast("double")

    theta = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    t = s.withColumn("theta", theta)

    def adj(sy_a: str, n_a: str, sx_a: str) -> Column:
        return (d(sy_a) / d(n_a)) - F.col("theta") * (
            d(sx_a) / d(n_a) - d("sx") / d("n")
        )

    def micro(c: Column) -> Column:
        return F.round(F.lit(1_000_000.0) * c).cast("bigint")

    rho2 = (
        (d("n") * d("sxy") - d("sx") * d("sy"))
        * (d("n") * d("sxy") - d("sx") * d("sy"))
    ) / (
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    return t.select(
        F.col("n").alias("n_users"),
        F.col("n0").alias("n_arm0"),
        F.col("n1").alias("n_arm1"),
        micro(F.col("theta")).alias("theta_micro"),
        micro(d("sy0") / d("n0")).alias("mean_y0_micro"),
        micro(d("sy1") / d("n1")).alias("mean_y1_micro"),
        micro(adj("sy0", "n0", "sx0")).alias("mean_y0_adj_micro"),
        micro(adj("sy1", "n1", "sx1")).alias("mean_y1_adj_micro"),
        micro(rho2).alias("var_reduction_micro"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/test split
# ---------------------------------------------------------------------------

_SPLIT_TEST_HEX = "1999"  # ~10% of the 16-bit draw space


def _dup_planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies of doc_id % 5 == 0 under new ids — the
    duplicate-group structure a crawl corpus has and the synthetic table
    lacks (every sf0.01 text is unique)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    copies = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text", "n_chars"
    )
    return docs.unionByName(copies)


_SQL_DUP_DOCS = """
docs AS (
    SELECT doc_id, text, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 500000, text, n_chars FROM documents WHERE doc_id % 5 = 0
)"""


@register(
    "corpus_split_leakage_safe",
    oracle=f"""
    WITH {_SQL_DUP_DOCS},
    g AS (
        SELECT doc_id, n_chars, md5(text) AS grp,
               CASE WHEN substring(md5('split:' || md5(text)), 1, 4)
                         < '{_SPLIT_TEST_HEX}'
                    THEN 'test' ELSE 'train' END AS split,
               CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)),
                                   1, 4) < '{_SPLIT_TEST_HEX}'
                    THEN 'test' ELSE 'train' END AS naive_split
        FROM docs
    ),
    per_group AS (
        SELECT grp, count(DISTINCT split) AS n_splits,
               count(DISTINCT naive_split) AS n_naive_splits,
               count(*) AS members
        FROM g GROUP BY grp
    )
    SELECT CAST((SELECT count(*) FROM g) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST((SELECT count(*) FROM g WHERE split = 'train') AS BIGINT)
               AS n_train_docs,
           CAST((SELECT count(*) FROM g WHERE split = 'test') AS BIGINT)
               AS n_test_docs,
           CAST(round(1000000.0 * (SELECT count(*) FROM g WHERE split = 'test')
                      / (SELECT count(*) FROM g)) AS BIGINT)
               AS test_frac_micro,
           CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_torn_by_group_split,
           CAST(sum(CASE WHEN members > 1 AND n_naive_splits > 1
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_torn_by_doc_split
    FROM per_group
    """,
    doc="Leakage-safe train/test split: duplicate GROUPS (md5 of the "
        "exact text; compose with dedup_components for near-dup "
        "clusters) are the split unit, each assigned train/test by an "
        "engine-replayable md5 draw on the GROUP key — so a duplicated "
        "document can never sit in train while its copy sits in test, "
        "the contamination path dedup papers warn about. The readout "
        "proves it: groups torn by the group-keyed split = 0 BY "
        "CONSTRUCTION (asserted through the oracle), while the same "
        "draw keyed naively on doc_id tears a measurable number of "
        "multi-member groups across the boundary. Runs on a dup-planted "
        "corpus (every synthetic sf0.01 text is unique). The 100 TB "
        "shape: one grouped pass over the corpus (text-hash partial "
        "agg), per-group verdicts partial-combine, and the scalars fold "
        "in a final 1-row aggregate.",
)
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    draw_grp = F.substring(
        F.md5(F.concat(F.lit("split:"), F.md5(F.col("text")))), 1, 4
    )
    draw_doc = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 4
    )
    g = _dup_planted_docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.col("text")).alias("grp"),
        F.when(draw_grp < _SPLIT_TEST_HEX, "test").otherwise("train").alias("split"),
        F.when(draw_doc < _SPLIT_TEST_HEX, "test")
        .otherwise("train")
        .alias("naive_split"),
    ).localCheckpoint()  # feeds the doc scalars and the group verdicts
    per_group = g.groupBy("grp").agg(
        F.countDistinct("split").alias("n_splits"),
        F.countDistinct("naive_split").alias("n_naive_splits"),
        F.count("*").alias("members"),
    )
    doc_stats = g.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train_docs"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("n_test_docs"),
    )
    grp_stats = per_group.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_torn_by_group_split"),
        F.sum(
            F.when((F.col("members") > 1) & (F.col("n_naive_splits") > 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("groups_torn_by_doc_split"),
    )
    return doc_stats.crossJoin(F.broadcast(grp_stats)).select(
        "n_docs",
        "n_groups",
        "n_train_docs",
        "n_test_docs",
        F.round(F.lit(1_000_000.0) * F.col("n_test_docs") / F.col("n_docs"))
        .cast("bigint")
        .alias("test_frac_micro"),
        "groups_torn_by_group_split",
        "groups_torn_by_doc_split",
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy entity matching
# ---------------------------------------------------------------------------


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
