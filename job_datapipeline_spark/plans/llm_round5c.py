"""Round-5 third batch: rank fusion, snapshot diff, join-size
estimation, ORC sink round trip, and the Pareto frontier.

Five more operators rounding out the retrieval, CDC, planning, ingest,
and analytic surfaces:

- Reciprocal Rank Fusion (Cormack et al. 2009): the standard way RAG
  stacks combine a lexical ranker with a second signal — fuse two
  rankings by sum of 1/(k + rank), k=60. Implemented the way it scales:
  each ranker is cut to its top-N via TakeOrderedAndProject FIRST, the
  rank window runs on the N-row survivors (never the corpus), and the
  fusion is a tiny full-outer join.
- Snapshot diff (CDC): added/removed/changed between two versions of a
  table via full-outer join on the key + exact row-hash compare — the
  change-data-capture primitive every incremental pipeline needs. The
  v2 snapshot is derived in-plan by planting deterministic edits.
- Join-size estimation: predict |A join B on k| EXACTLY as
  sum_k cnt_A(k) * cnt_B(k) from the two per-key histograms, and verify
  against the executed join in the same plan — the cardinality
  arithmetic a planner runs before committing to a shuffle strategy.
- ORC sink round trip: Spark's second first-class columnar format,
  written partitioned and read back with types intact (the S10/S12
  pattern of sources/sinks.py extended to ORC).
- Pareto frontier (skyline): parts not dominated on (price, size).
  Implemented as the distributive two-level form — per-price min-size
  aggregate, ONE window over the distinct-price frame (not the table),
  then a semi-join back — with the naive NOT-EXISTS dominance scan as
  the oracle mirror only.

Reference parity: the reference pipeline diffs nothing, fuses nothing
and writes CSV/JSON only (glassdoor-scraper/src/main.py); this module
belongs to the extended 100 TB training-data surface. Cross-engine
float discipline (plans/queries.py header): prices compare as exact
integer cents everywhere; the single division in RRF (1e9/(k+rank)) is
one IEEE double op on integer inputs rounded immediately to bigint, so
fused scores are exact integer sums on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import global_cummin
from .queries import _scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TERMS = ("spark", "join", "window")  # the text_bm25_search q1/q3 terms
_RRF_TOPN = 50  # per-ranker cut before ranking
_RRF_OUT = 20


@register(
    "text_rrf_fusion",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    cand AS (
        SELECT doc_id, any_value(n_chars) AS n_chars,
               count(*) AS tf, count(DISTINCT tok) AS cov
        FROM toks
        WHERE tok IN {tuple(_RRF_TERMS)}
        GROUP BY doc_id
    ),
    rtf AS (
        SELECT doc_id, rank_tf FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY tf DESC, doc_id) AS rank_tf
            FROM cand) x
        WHERE rank_tf <= {_RRF_TOPN}
    ),
    rcov AS (
        SELECT doc_id, rank_cov FROM (
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY cov DESC, n_chars, doc_id) AS rank_cov
            FROM cand) x
        WHERE rank_cov <= {_RRF_TOPN}
    ),
    fused AS (
        SELECT COALESCE(rtf.doc_id, rcov.doc_id) AS doc_id,
               rtf.rank_tf, rcov.rank_cov,
               COALESCE(CAST(round(1000000000.0 / ({_RRF_K} + rank_tf))
                             AS BIGINT), 0)
                 + COALESCE(CAST(round(1000000000.0 / ({_RRF_K} + rank_cov))
                                 AS BIGINT), 0) AS rrf_micro
        FROM rtf FULL OUTER JOIN rcov ON rtf.doc_id = rcov.doc_id
    )
    SELECT doc_id, rank_tf, rank_cov, rrf_micro
    FROM fused
    ORDER BY rrf_micro DESC, doc_id
    LIMIT {_RRF_OUT}
    """,
    doc=f"Reciprocal Rank Fusion (Cormack et al. 2009), k={_RRF_K}: fuse "
        "a term-frequency ranker with a term-coverage ranker over the "
        f"query {_RRF_TERMS} by sum of 1/(k + rank); docs missing from a "
        "ranker's list contribute 0 for it — the standard hybrid-"
        "retrieval combiner in RAG stacks (typically lexical + vector; "
        "here two lexical signals so the oracle is exact). The 100 TB "
        "shape: candidates are docs matching >= 1 query term (a map-side "
        f"filter), each ranker cuts to top-{_RRF_TOPN} via "
        "TakeOrderedAndProject BEFORE any rank window — the window runs "
        f"on a {_RRF_TOPN}-row frame, never the corpus — and fusion is a "
        "full-outer join of two tiny frames. Float discipline: the only "
        "division is 1e9/(k+rank) on integer inputs, one IEEE op rounded "
        "immediately to bigint, so fused scores sum exactly on both "
        "engines.",
)
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    cand = (
        toks.filter(F.col("tok").isin(*_RRF_TERMS))
        .groupBy("doc_id")
        .agg(
            F.any_value("n_chars").alias("n_chars"),
            F.count("*").alias("tf"),
            F.countDistinct("tok").alias("cov"),
        )
        .localCheckpoint()  # feeds both rankers; Spark does not CSE subplans
    )
    top_tf = cand.orderBy(F.col("tf").desc(), "doc_id").limit(_RRF_TOPN)
    rtf = top_tf.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
        .alias("rank_tf"),
    )
    top_cov = cand.orderBy(F.col("cov").desc(), "n_chars", "doc_id").limit(
        _RRF_TOPN
    )
    rcov = top_cov.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cov").desc(), "n_chars", "doc_id"))
        .alias("rank_cov"),
    )
    contrib = lambda rank_col: F.coalesce(  # noqa: E731
        F.round(F.lit(1_000_000_000.0) / (_RRF_K + rank_col)).cast("bigint"),
        F.lit(0),
    )
    fused = (
        rtf.join(rcov, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_tf",
            "rank_cov",
            (contrib(F.col("rank_tf")) + contrib(F.col("rank_cov"))).alias(
                "rrf_micro"
            ),
        )
        .orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(_RRF_OUT)
    )
    return fused


# ---------------------------------------------------------------------------
# Snapshot diff (CDC)
# ---------------------------------------------------------------------------

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
# Join-size estimation
# ---------------------------------------------------------------------------

@register(
    "join_size_estimate",
    oracle="""
    WITH ha AS (
        SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1
    ),
    hb AS (
        SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1
    ),
    pred AS (
        SELECT CAST(sum(ca * cb) AS BIGINT) AS predicted_rows
        FROM ha JOIN hb ON ha.k = hb.k
    ),
    act AS (
        SELECT count(*) AS actual_rows
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT predicted_rows, actual_rows,
           (predicted_rows = actual_rows) AS exact_match
    FROM pred, act
    """,
    doc="Exact join-cardinality prediction: |A join B on k| = "
        "sum over k of cnt_A(k) * cnt_B(k), computed from the two "
        "per-key histograms and verified against the executed join in "
        "the SAME plan (exact_match must be TRUE) — the arithmetic a "
        "cost-based planner runs before choosing broadcast vs shuffle vs "
        "skew mitigation, surfaced as an operator so a pipeline can gate "
        "an expensive join on its predicted output size (e.g. refuse a "
        "10^14-row blowup before paying for it). The histograms are "
        "partial-aggregatable (map-side combine collapses each task to "
        "its local key counts), and at 100 TB the estimate costs two "
        "aggregates + a histogram join — orders of magnitude cheaper "
        "than materializing a bad join; the executed-join column here is "
        "the verification harness, not the production path. The same "
        "histogram frame also yields the skew report: its max(cnt) IS "
        "the hot-key diagnosis operators/skew.py salts against.",
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    o = table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    ha = li.groupBy("k").agg(F.count("*").alias("ca"))
    hb = o.groupBy("k").agg(F.count("*").alias("cb"))
    pred = (
        ha.join(hb, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("predicted_rows"))
    )
    act = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .agg(F.count("*").alias("actual_rows"))
    )
    return pred.crossJoin(act).select(
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias("exact_match"),
    )


# ---------------------------------------------------------------------------
# ORC sink round trip
# ---------------------------------------------------------------------------

@register(
    "sink_roundtrip_orc",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(o_orderdate) AS VARCHAR) AS first_date
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="ORC sink + read-back round trip (S10/S12 pattern, third "
        "format): write orders partitioned by status as ORC — Spark's "
        "other first-class columnar format, zero extra dependencies — "
        "read it back, and aggregate; matching the oracle computed "
        "straight from the source parquet proves bigint/double/date/"
        "string fidelity AND that the partition column round-trips from "
        "directory names. Partitioned ORC gets the same 100 TB "
        "properties as the parquet sink: partition pruning on status, "
        "predicate pushdown, splittable stripes; the deliberate "
        "difference from sink_roundtrip_csv is typed columnar storage "
        "(CSV proves the schema-on-read path instead).",
)
def sink_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    path = _scratch_dir("orc_rt") + "/orders_orc"
    orders.write.partitionBy("o_orderstatus").mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.min("o_orderdate").cast("string").alias("first_date"),
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline)
# ---------------------------------------------------------------------------

@register(
    "pareto_frontier",
    oracle="""
    SELECT p.p_partkey,
           CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_cents,
           p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE round(q.p_retailprice * 100) <= round(p.p_retailprice * 100)
          AND q.p_size <= p.p_size
          AND (round(q.p_retailprice * 100) < round(p.p_retailprice * 100)
               OR q.p_size < p.p_size)
    )
    """,
    doc="Pareto frontier / skyline: parts not dominated on (price, "
        "size) — q dominates p iff q is <= on both dimensions and "
        "strictly < on at least one; exact ties on both dimensions "
        "coexist on the frontier. Implemented in the DISTRIBUTIVE "
        "two-level form, not the naive O(n^2) dominance scan the oracle "
        "mirrors: (1) per-price min-size aggregate (partial-aggregatable "
        "map-side), (2) ONE exclusive running min over the DISTINCT-"
        "PRICE frame via operators/ranks.global_cummin (range "
        "partitions + a broadcast P-row carry-in — NO single-partition "
        "window, so even a price grid that saturates its cent "
        "resolution never lands on one task), keeping prices whose "
        "min-size strictly beats every cheaper price, (3) a broadcast "
        "semi-join back to recover the frontier parts. Prices compare "
        "as exact integer cents throughout.",
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        "p_size",
    )
    by_price = part.groupBy("price_cents").agg(F.min("p_size").alias("min_size"))
    frontier_prices = (
        global_cummin(
            by_price,
            ["price_cents"],
            "min_size",
            out_col="run_min",
            exclusive=True,
        )
        .filter(F.col("run_min").isNull() | (F.col("min_size") < F.col("run_min")))
        .select("price_cents", "min_size")
    )
    return (
        part.alias("p")
        .join(
            F.broadcast(frontier_prices.alias("f")),
            (F.col("p.price_cents") == F.col("f.price_cents"))
            & (F.col("p.p_size") == F.col("f.min_size")),
        )
        .select("p.p_partkey", "p.price_cents", "p.p_size")
    )
