"""Round-5 twenty-second batch: backfill planner, embedding isotropy
report, run-length path mining.

Three more named operators:

- Backfill planner — the ops primitive every scheduled pipeline
  needs: given a date-partitioned dataset with holes (here: a
  scratch write that deterministically skips some months), discover
  the materialized partitions from the PHYSICAL layout, diff them
  against the calendar spine the source says must exist, and emit
  the backfill work list with expected row counts. Partition
  discovery is metadata-only; the diff is an anti-join on the
  calendar frame.
- Embedding isotropy report — the representation-quality audit run
  before trusting any embedding space: per label, mean vector norm,
  the norm of the mean vector, and the isotropy ratio
  ||mean||^2 / mean(||x||^2) (≈ average pairwise cosine; high means
  the space collapsed toward a cone). All second moments accumulate
  as EXACT micro-quantized bigints — the Gram-matrix device — so
  the report is partition-invariant.
- Run-length path mining: per user, the run-length-encoded
  event-type journey (the gaps-and-islands device collapses repeats:
  view,view,click -> view x2 > click), then the top journeys by user
  count — session-replay compression + the most common paths, the
  product-analytics staple.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): counts, norms
and moments are exact bigints; each reported ratio is a single
rounded IEEE division.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .queries import _scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# Backfill planner
# ---------------------------------------------------------------------------

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
    out = _os.path.join(_scratch_dir("backfill_plan"), "orders_monthly")
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
# Embedding isotropy report
# ---------------------------------------------------------------------------


@register(
    "embedding_isotropy_report",
    oracle="""
    WITH q AS (
        SELECT label,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS qv
        FROM embeddings
    ),
    comps AS (
        SELECT label, u.i AS i, qv[u.i] AS v
        FROM (SELECT label, qv,
                     unnest(generate_series(1, len(qv))) AS i
              FROM q) u(label, qv, i)
    ),
    per_dim AS (
        SELECT label, i,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(v * v) AS BIGINT) AS ss,
               CAST(count(*) AS BIGINT) AS n
        FROM comps GROUP BY 1, 2
    ),
    agg AS (
        SELECT label,
               CAST(max(n) AS BIGINT) AS n_vecs,
               CAST(sum(ss) AS BIGINT) AS sum_norm2,
               CAST(sum(s * s) AS BIGINT) AS mean_num
        FROM per_dim GROUP BY label
    )
    SELECT CAST(label AS BIGINT) AS label, n_vecs,
           CAST(round(1.0 * sum_norm2 / n_vecs) AS BIGINT)
               AS mean_norm2_micro2,
           CAST(round(1.0 * mean_num / (n_vecs * n_vecs)) AS BIGINT)
               AS mean_vec_norm2_micro2,
           CAST(round(1000000.0 * mean_num
                      / (CAST(n_vecs AS DOUBLE) * sum_norm2)) AS BIGINT)
               AS isotropy_micro
    FROM agg ORDER BY label
    """,
    doc="Embedding isotropy report per label — the representation-"
        "quality audit run before trusting any embedding space: mean "
        "squared norm, squared norm of the MEAN vector, and the "
        "isotropy ratio ||mean||^2 / mean(||x||^2), which "
        "approximates the average pairwise cosine — near 0 for an "
        "isotropic (well-spread) space, near 1 when the space has "
        "collapsed toward a cone (the classic anisotropy failure of "
        "contrastive training). Everything reduces to per-dimension "
        "sums S_i and squared sums SS_i of micro-quantized ints — "
        "the Gram-device formulation: ||mean||^2 = sum_i S_i^2 / n^2 "
        "and mean norm^2 = sum_i SS_i / n, all EXACT bigints until "
        "one final division each. The 100 TB shape: components "
        "partial-aggregate map-side onto the label x dimension frame "
        "(labels x 64 rows); the report is dimension-bounded at any "
        "corpus size and the accumulation is partition-invariant "
        "because it is integer.",
)
def embedding_isotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
            )
        ).alias("i0", "v"),
    )
    per_dim = comps.groupBy("label", "i0").agg(
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
        F.count("*").cast("bigint").alias("n"),
    )
    agg = per_dim.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.sum("ss").cast("bigint").alias("sum_norm2"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("mean_num"),
    )
    return agg.select(
        F.col("label").cast("bigint").alias("label"),
        "n_vecs",
        F.round(F.lit(1.0) * F.col("sum_norm2") / F.col("n_vecs"))
        .cast("bigint")
        .alias("mean_norm2_micro2"),
        F.round(F.lit(1.0) * F.col("mean_num") / (F.col("n_vecs") * F.col("n_vecs")))
        .cast("bigint")
        .alias("mean_vec_norm2_micro2"),
        F.round(
            F.lit(1_000_000.0)
            * F.col("mean_num")
            / (F.col("n_vecs").cast("double") * F.col("sum_norm2"))
        )
        .cast("bigint")
        .alias("isotropy_micro"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# Run-length path mining
# ---------------------------------------------------------------------------

_RLE_TOPK = 5


@register(
    "events_rle_paths",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    runs AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(sum(CASE WHEN prev_type IS NULL
                                  OR prev_type <> event_type
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        FROM ordered
    ),
    rle AS (
        SELECT user_id, run_id,
               min(event_type) AS etype,
               CAST(count(*) AS BIGINT) AS reps
        FROM runs GROUP BY user_id, run_id
    ),
    paths AS (
        SELECT user_id,
               string_agg(etype || 'x' || CAST(reps AS VARCHAR), '>'
                          ORDER BY run_id) AS path
        FROM rle GROUP BY user_id
    )
    SELECT path, n_users, rank FROM (
        SELECT path, CAST(count(*) AS BIGINT) AS n_users,
               row_number() OVER (ORDER BY count(*) DESC, path) AS rank
        FROM paths GROUP BY path) x
    WHERE rank <= {_RLE_TOPK}
    ORDER BY rank
    """,
    doc=f"Run-length path mining (top-{_RLE_TOPK} journeys): each "
        "user's event-type sequence collapses repeats via the gaps-"
        "and-islands device (a run starts where the lagged type "
        "differs; one running sum assigns run ids), encodes as "
        "'viewx2>clickx1>...' — session-replay compression that "
        "makes journeys comparable — and the top paths by user count "
        "surface the dominant flows, the product-analytics staple "
        "behind funnel discovery. Ordering is the pinned (ts, "
        "event_id) total order; the path string is deterministic by "
        "construction. The 100 TB shape: ONE shuffle onto user_id "
        "serves the lag, the run-id sum, the per-run collapse and "
        "the path assembly (same key, same order — Spark reuses the "
        "sort); path frequencies then partial-aggregate onto the "
        "path vocabulary, and the top-k is a "
        "TakeOrderedAndProject, never a global sort. Unbounded "
        "per-user history is the documented hazard: cap the window "
        "to a session or a day (events_sessionize composes) before "
        "paths become megabyte strings.",
)
def events_rle_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.withColumn("prev_type", F.lag("event_type").over(w))
    runs = ordered.withColumn(
        "run_id",
        F.sum(
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    rle = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("etype"),
        F.count("*").cast("bigint").alias("reps"),
    )
    paths = rle.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("run_id", "etype", "reps"))
                ),
                lambda s: F.concat(
                    s["etype"], F.lit("x"), s["reps"].cast("string")
                ),
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    wr = Window.orderBy(F.col("n_users").desc(), "path")
    return (
        counted.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _RLE_TOPK)
        .select("path", "n_users", "rank")
        .orderBy("rank")
    )
