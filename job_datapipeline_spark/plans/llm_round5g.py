"""Round-5 seventh batch: SCD2 change application, quality-filter
ablation, and PSI distribution drift.

Three more named operators:

- SCD2 apply-changes (the warehouse MERGE-INTO-dimension workload):
  given the current dimension and a CDC change set (planted edits, the
  snapshot_diff pattern), emit the slowly-changing-dimension type-2
  result — changed keys get their current row closed and a new
  version opened, inserts get a first version, untouched keys pass
  through — with validity windows, version numbers, and is_current
  flags. Complements events_scd2_islands (which DERIVES intervals
  from an event log; this APPLIES a delta to a dimension).
- Quality-filter ablation: for each curation rule, how many documents
  fail it at all and how many fail ONLY it — the marginal-attribution
  report a filter author reads before tightening any threshold
  (a rule whose failures are all shared with other rules is free to
  remove; a rule with large exclusive failures is load-bearing).
- PSI distribution drift (population stability index, the standard
  ML-monitoring drift metric): PSI = sum_i (p_i - q_i) ln(p_i / q_i)
  between the English and non-English token distributions. Each
  term is rounded to integer micro-units BEFORE the sum, so the
  cross-engine result is an exact bigint total (summing raw doubles
  would be order-dependent across engines); the ln is the accepted
  round-precedent (plans/llm_extras.py BM25).

Reference parity: the reference pipeline (glassdoor-scraper/src/
main.py) has no dimension-maintenance, ablation, or drift surface;
this module belongs to the extended 100 TB training-data scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# SCD2 apply-changes
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Quality-filter ablation
# ---------------------------------------------------------------------------

_ABL_MIN_CHARS = 100
_ABL_ALPHA_MICRO = 810_000
_ABL_MWL_LO, _ABL_MWL_HI = 3, 10  # mean word length band (Gopher-style)

_ABL_RULES_SQL = f"""
        SELECT doc_id,
               (n_chars >= {_ABL_MIN_CHARS}) AS r_min_chars,
               (CAST(round(1000000.0 * length(regexp_replace(lower(text),
                    '[^a-z]', '', 'g')) / n_chars) AS BIGINT)
                    >= {_ABL_ALPHA_MICRO}) AS r_alpha,
               (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    BETWEEN {_ABL_MWL_LO}
                        * len(string_split_regex(trim(lower(text)), '\\s+'))
                    AND {_ABL_MWL_HI}
                        * len(string_split_regex(trim(lower(text)), '\\s+')))
                   AS r_word_len,
               (' ' || trim(lower(text)) || ' ' LIKE '% the %') AS r_stopword
        FROM documents
"""


@register(
    "corpus_quality_ablation_report",
    oracle=f"""
    WITH rules AS ({_ABL_RULES_SQL}),
    u AS (
        SELECT 'min_chars' AS rule, NOT r_min_chars AS fails,
               NOT r_min_chars AND r_alpha AND r_word_len AND r_stopword
                   AS fails_only
        FROM rules
        UNION ALL
        SELECT 'alpha', NOT r_alpha,
               NOT r_alpha AND r_min_chars AND r_word_len AND r_stopword
        FROM rules
        UNION ALL
        SELECT 'word_len', NOT r_word_len,
               NOT r_word_len AND r_min_chars AND r_alpha AND r_stopword
        FROM rules
        UNION ALL
        SELECT 'stopword', NOT r_stopword,
               NOT r_stopword AND r_min_chars AND r_alpha AND r_word_len
        FROM rules
    )
    SELECT rule,
           CAST(count(*) FILTER (WHERE fails) AS BIGINT) AS n_fail,
           CAST(count(*) FILTER (WHERE fails_only) AS BIGINT)
               AS n_fail_exclusive,
           CAST((SELECT count(*) FROM rules
                 WHERE r_min_chars AND r_alpha AND r_word_len AND r_stopword)
                AS BIGINT) AS n_pass_all
    FROM u GROUP BY rule ORDER BY rule
    """,
    doc="Quality-filter ablation: for each curation rule (min length, "
        "alpha ratio, mean-word-length band, stopword presence — the "
        "Gopher-style family), count documents that fail it at all and "
        "documents that fail ONLY it — the marginal-attribution report "
        "a filter author reads before tightening any threshold: a rule "
        "whose failures are all shared is redundant; one with large "
        "exclusive failures is load-bearing and deserves its own "
        "review. The 100 TB shape: every rule is an expression on the "
        "scan (zero joins), the per-rule unpivot is a map-side Expand "
        "(one row per rule per doc BEFORE partial aggregation collapses "
        "each task to 4 rule rows), and the report is rule-cardinality "
        "sized. One corpus scan total; all counts exact.",
)
def corpus_quality_ablation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    alpha_len = F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
    n_tok = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    rules = table(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= _ABL_MIN_CHARS).alias("r_min_chars"),
        (
            F.round(F.lit(1_000_000.0) * alpha_len / F.col("n_chars")).cast(
                "bigint"
            )
            >= _ABL_ALPHA_MICRO
        ).alias("r_alpha"),
        (
            (alpha_len >= _ABL_MWL_LO * n_tok) & (alpha_len <= _ABL_MWL_HI * n_tok)
        ).alias("r_word_len"),
        F.concat(F.lit(" "), F.trim(F.lower("text")), F.lit(" "))
        .like("% the %")
        .alias("r_stopword"),
    ).localCheckpoint()  # feeds the unpivot AND the pass-all scalar
    names = ["min_chars", "alpha", "word_len", "stopword"]
    cols = ["r_min_chars", "r_alpha", "r_word_len", "r_stopword"]
    stack_parts = []
    for name, col in zip(names, cols):
        others = [c for c in cols if c != col]
        fails_only = (
            (~F.col(col))
            & F.col(others[0])
            & F.col(others[1])
            & F.col(others[2])
        )
        stack_parts.append(
            F.struct(
                F.lit(name).alias("rule"),
                (~F.col(col)).alias("fails"),
                fails_only.alias("fails_only"),
            )
        )
    unpivoted = rules.select(
        F.explode(F.array(*stack_parts)).alias("s")
    ).select("s.rule", "s.fails", "s.fails_only")
    pass_all = rules.agg(
        F.sum(
            F.when(
                F.col("r_min_chars")
                & F.col("r_alpha")
                & F.col("r_word_len")
                & F.col("r_stopword"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pass_all")
    )
    return (
        unpivoted.groupBy("rule")
        .agg(
            F.sum(F.when(F.col("fails"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_fail"),
            F.sum(F.when(F.col("fails_only"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_fail_exclusive"),
        )
        .crossJoin(F.broadcast(pass_all))
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# PSI distribution drift
# ---------------------------------------------------------------------------


@register(
    "corpus_psi_drift",
    oracle="""
    WITH toks AS (
        SELECT (lang = 'en') AS is_en,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT tok,
               CAST(count(*) FILTER (WHERE is_en) AS BIGINT) AS ca,
               CAST(count(*) FILTER (WHERE NOT is_en) AS BIGINT) AS cb
        FROM toks GROUP BY tok
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb
        FROM counts
    ),
    terms AS (
        SELECT c.tok,
               CAST(round(1000000.0
                   * (CAST(c.ca AS DOUBLE) / t.ta
                      - CAST(c.cb AS DOUBLE) / t.tb)
                   * ln((CAST(c.ca AS DOUBLE) * t.tb)
                        / (CAST(c.cb AS DOUBLE) * t.ta))) AS BIGINT)
                   AS term_e6
        FROM counts c CROSS JOIN tot t
        WHERE c.ca > 0 AND c.cb > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(term_e6) AS BIGINT) AS psi_e6,
           (CAST(sum(term_e6) AS BIGINT) >= 0) AS psi_nonnegative
    FROM terms
    """,
    doc="PSI distribution drift (population stability index — the "
        "standard ML-monitoring drift metric, with its conventional "
        "bands 0.1/0.25): PSI = sum over bins of (p_i - q_i) * "
        "ln(p_i / q_i) between the English and non-English token "
        "distributions, bins = shared vocabulary (bins unique to one "
        "side are excluded here; production smooths them with a small "
        "epsilon — documented, not hidden). Float discipline: each "
        "bin's term is rounded to integer micro-units FIRST and the "
        "total is an exact bigint sum — summing raw doubles would be "
        "partition-order-dependent and engine-divergent; per-term "
        "rounding makes the metric associative and mergeable, the same "
        "device as the sketch aggregates. PSI is provably >= 0 "
        "term-wise ((p-q) and ln(p/q) always share sign), asserted "
        "in-plan. The 100 TB shape: one token-count shuffle with "
        "map-side combine onto the vocabulary-sized frame, a 1-row "
        "totals broadcast, and a vocabulary-sized fold — the corpus is "
        "scanned once; both distributions come from the SAME aggregate "
        "(FILTER counts), not two scans.",
)
def corpus_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").alias("is_en"),
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    counts = (
        toks.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("is_en"), 1).otherwise(0)).cast("bigint").alias("ca"),
            F.sum(F.when(~F.col("is_en"), 1).otherwise(0)).cast("bigint").alias("cb"),
        )
        .localCheckpoint()  # feeds the totals AND the term fold
    )
    tot = counts.agg(
        F.sum("ca").cast("bigint").alias("ta"),
        F.sum("cb").cast("bigint").alias("tb"),
    )
    terms = (
        counts.filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.lit(1_000_000.0)
                * (
                    F.col("ca").cast("double") / F.col("ta")
                    - F.col("cb").cast("double") / F.col("tb")
                )
                * F.log(
                    (F.col("ca").cast("double") * F.col("tb"))
                    / (F.col("cb").cast("double") * F.col("ta"))
                )
            )
            .cast("bigint")
            .alias("term_e6")
        )
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum("term_e6").cast("bigint").alias("psi_e6"),
        (F.sum("term_e6").cast("bigint") >= 0).alias("psi_nonnegative"),
    )
