"""Round-9 fourth batch: decontamination METHOD-COVERAGE report — the
measured artifact that justifies running both decontamination methods.

``corpus_decontaminate`` (8-gram overlap, r1) and
``corpus_decontaminate_semantic`` (embedding cell probe, r9) catch
different contamination classes.  This query plants BOTH classes into
one training corpus and reports, per class, what each method catches:

- ``verbatim_tail``: benchmark text re-inserted with a token tail (the
  classic crawl-duplicate leak).  Shares the original's 8-grams AND its
  embedding neighborhood — both methods must catch all of it.
- ``word_reversed``: the same text with word order destroyed (a stand-in
  for paraphrase — zero shared 8-grams, verified across all test SFs)
  with a near-identical embedding.  N-gram decontamination must catch
  NONE of it; the semantic probe must catch ALL of it.
- ``organic``: the untouched training corpus.  The semantic probe must
  stay silent (organic cosines top out ~0.51 vs the 0.9 threshold); the
  n-gram side is REPORTED rather than asserted, because 8-gram
  collisions between organic docs and the benchmark are genuine on this
  low-entropy 31-word vocabulary (6/450 docs at sf0.01, stable for n up
  to 12) — the measured specificity limit of n-gram decontamination on
  repetitive text, itself worth surfacing.

Each row carries an in-plan ``matches_expectation`` verdict; the oracle
hash pins the whole contingency table cross-engine.  documents.doc_id
and embeddings.vec_id share the same key space in the testdata, so each
planted text has a planted embedding twin (offsets 3e5/4e5 text-side,
1e6/2e6 vector-side).

Reference parity: none (the reference has neither n-grams-at-scale nor
embeddings).  Scale shape: the n-gram side is the corpus_decontaminate
join (gram-keyed, benchmark side broadcastable); the semantic side is
the cell_probe_flags device (broadcast-argmin assignment + cell-key
equi-join + eval-side multi-probe); the report is three counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators import decontam as _DC
from ..operators.decontam import SEM_CENTROID_IDS as _DECON_SEM_CENTROIDS
from ..operators.decontam import cell_probe_flags
from .queries import _DECON_N
from .registry import register

_COV_TAIL = " qq xq zq"
_COV_T_VERBATIM = 300_000   # text-side id offsets
_COV_T_REVERSED = 400_000
# Vector-side id offsets: match the text side's 1e6-scale convention —
# the previous 1e4/2e4 had only ~5x headroom over sf0.1's max vec_id, so
# an embeddings table with >=10_003 ids would spill verbatim ids into the
# word_reversed class range and collide with reversed ids (r9 ADVICE);
# the per-(side,vec_id) window in cell_probe_flags would then silently
# drop one train vector.  The in-plan guard asserts the precondition.
_COV_V_VERBATIM = 1_000_000
_COV_V_REVERSED = 2_000_000

_COV_CAST = "[CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)]"
_COV_L2 = (
    "round(sqrt(list_sum(["
    "(x.emb[i] - c.cent[i]) * (x.emb[i] - c.cent[i]) "
    "FOR i IN range(1, 65)])), 6)"
)


def _cov_perturb_sql(sign: str) -> str:
    return (
        f"[CAST(embedding[i] AS DOUBLE) {sign} 0.01 * "
        "(CASE WHEN i % 2 = 1 THEN 1.0 ELSE -1.0 END) "
        "FOR i IN range(1, 65)]"
    )


def _cov_grams_sql(src: str, idc: str) -> str:
    n = _DECON_N
    return f"""
    SELECT DISTINCT doc_id AS {idc}, gram FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= {n}
                           THEN [array_to_string(t[i:i+{n - 1}], ' ')
                                 FOR i IN range(1, len(t) - {n - 2})]
                           ELSE [] END) AS gram
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM {src}) x) u"""


@register(
    "corpus_decontaminate_coverage",
    oracle=f"""
    WITH bench_t AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3
    ),
    org_t AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3
    ),
    train_t AS (
        SELECT doc_id, text FROM org_t
        UNION ALL
        SELECT doc_id + {_COV_T_VERBATIM}, text || '{_COV_TAIL}'
        FROM bench_t
        UNION ALL
        SELECT doc_id + {_COV_T_REVERSED},
               array_to_string(
                   list_reverse(string_split_regex(trim(lower(text)),
                                                   '\\s+')), ' ')
        FROM bench_t
    ),
    cg AS ({_cov_grams_sql('train_t', 'doc_id')}),
    bg AS ({_cov_grams_sql('bench_t', 'bench_id')}),
    ngram_flag AS (
        SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram)
        WHERE doc_id <> bench_id
    ),
    ev AS (
        SELECT vec_id, {_COV_CAST} AS emb
        FROM embeddings WHERE vec_id % 10 = 3
    ),
    trainv AS (
        SELECT vec_id, {_COV_CAST} AS emb
        FROM embeddings WHERE vec_id % 10 <> 3
        UNION ALL
        SELECT vec_id + {_COV_V_VERBATIM}, {_cov_perturb_sql('+')}
        FROM embeddings WHERE vec_id % 10 = 3
        UNION ALL
        SELECT vec_id + {_COV_V_REVERSED}, {_cov_perturb_sql('-')}
        FROM embeddings WHERE vec_id % 10 = 3
    ),
    cents AS (
        SELECT vec_id AS cid, {_COV_CAST} AS cent
        FROM embeddings
        WHERE vec_id % 10 <> 3 AND vec_id IN {_DECON_SEM_CENTROIDS}
    ),
    assign AS (
        SELECT side, vec_id, emb, cid AS cell FROM (
            SELECT x.side, x.vec_id, x.emb, c.cid,
                   row_number() OVER (PARTITION BY x.side, x.vec_id
                                      ORDER BY {_COV_L2}, c.cid) AS r
            FROM (SELECT 't' AS side, vec_id, emb FROM trainv
                  UNION ALL
                  SELECT 'e' AS side, vec_id, emb FROM ev) x
            CROSS JOIN cents c) y
        WHERE (side = 't' AND r = 1) OR (side = 'e' AND r <= 3)
    ),
    sem_flag AS (
        SELECT DISTINCT t.vec_id
        FROM (SELECT * FROM assign WHERE side = 't') t
        JOIN (SELECT * FROM assign WHERE side = 'e') e USING (cell)
        WHERE round(list_dot_product(t.emb, e.emb) /
                    (sqrt(list_dot_product(t.emb, t.emb)) *
                     sqrt(list_dot_product(e.emb, e.emb))), 6) >= 0.9
    ),
    report AS (
        SELECT 'organic' AS planted_type,
               (SELECT count(*) FROM org_t) AS n_docs,
               (SELECT count(*) FROM ngram_flag
                WHERE doc_id < {_COV_T_VERBATIM}) AS ngram_caught,
               (SELECT count(*) FROM sem_flag
                WHERE vec_id < {_COV_V_VERBATIM}) AS semantic_caught
        UNION ALL
        SELECT 'verbatim_tail',
               (SELECT count(*) FROM bench_t),
               (SELECT count(*) FROM ngram_flag
                WHERE doc_id >= {_COV_T_VERBATIM}
                  AND doc_id < {_COV_T_REVERSED}),
               (SELECT count(*) FROM sem_flag
                WHERE vec_id >= {_COV_V_VERBATIM}
                  AND vec_id < {_COV_V_REVERSED})
        UNION ALL
        SELECT 'word_reversed',
               (SELECT count(*) FROM bench_t),
               (SELECT count(*) FROM ngram_flag
                WHERE doc_id >= {_COV_T_REVERSED}),
               (SELECT count(*) FROM sem_flag
                WHERE vec_id >= {_COV_V_REVERSED})
    )
    SELECT planted_type,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(ngram_caught AS BIGINT) AS ngram_caught,
           CAST(semantic_caught AS BIGINT) AS semantic_caught,
           CASE planted_type
               WHEN 'organic' THEN semantic_caught = 0
               WHEN 'verbatim_tail'
                   THEN ngram_caught = n_docs AND semantic_caught = n_docs
               ELSE ngram_caught = 0 AND semantic_caught = n_docs
           END AS matches_expectation
    FROM report
    ORDER BY planted_type
    """,
    doc="Decontamination method-coverage contingency table — the "
        "measured argument for running BOTH hygiene filters: verbatim "
        "contamination (benchmark text + token tail, planted with its "
        "perturbed embedding twin) must be caught by 8-gram overlap AND "
        "the semantic cell probe; word-reversed contamination (zero "
        "shared 8-grams — verified across SFs — near-identical "
        "embedding) must be caught ONLY by the semantic probe; the "
        "organic corpus must leave the semantic probe silent, while its "
        "n-gram hit count is REPORTED as the method's measured "
        "specificity limit on low-entropy text (8-gram collisions are "
        "genuine on a 31-word vocabulary: 6/450 organic docs at "
        "sf0.01). Per-class in-plan "
        "matches_expectation verdicts ride every row. Reuses the exact "
        "production devices (operators/decontam.ngram_overlap_flags, "
        "operators/decontam.cell_probe_flags with nprobe=3), so the table "
        "certifies the METHODS, not a re-implementation. 100 TB shape: "
        "gram-keyed join with broadcastable benchmark side + "
        "cell-partitioned probe; the report is three conditional "
        "counts.",
)
def corpus_decontaminate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one scan each: documents feeds bench/organic/planted text sides and
    # the class counts; embeddings feeds eval/train/centroid vector sides
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    bench_t = docs.filter(F.col("doc_id") % 10 == 3)
    org_t = docs.filter(F.col("doc_id") % 10 != 3)
    reversed_text = F.array_join(
        F.reverse(F.split(F.trim(F.lower("text")), r"\s+")), " "
    )
    train_t = org_t.unionByName(
        bench_t.select(
            (F.col("doc_id") + _COV_T_VERBATIM).alias("doc_id"),
            F.concat("text", F.lit(_COV_TAIL)).alias("text"),
        )
    ).unionByName(
        bench_t.select(
            (F.col("doc_id") + _COV_T_REVERSED).alias("doc_id"),
            reversed_text.alias("text"),
        )
    )
    ngram_flag = _DC.ngram_overlap_flags(train_t, bench_t, n=_DECON_N).select(
        "doc_id"
    )

    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    as_double = F.transform("embedding", lambda x: x.cast("double"))

    def perturb(sign: float):
        # Spark 0-based index: i % 2 == 0 here is DuckDB's i % 2 = 1
        return F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + sign * 0.01 * F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
        )

    ev = emb.filter(F.col("vec_id") % 10 == 3)

    # In-plan precondition guard: v_class below decodes the planted class
    # from id RANGES ([1e6, 2e6) verbatim, [2e6, ..) reversed), so every
    # SOURCE id must sit below the first offset — a larger embeddings
    # table would otherwise spill one class into the next and silently
    # drop a train vector in cell_probe_flags' per-(side,vec_id) window
    # (r9 ADVICE).  assert_true folded into the consumed vec_id
    # projection (one long comparison per row) fails the job loudly.
    def _below_offset(c):
        chk = F.assert_true(
            c < F.lit(_COV_V_VERBATIM),
            F.lit(
                "corpus_decontaminate_coverage: source vec_id >= planted-id "
                f"offset {_COV_V_VERBATIM} — raise _COV_V_* offsets"
            ),
        )
        return F.when(chk.isNull(), c)

    trainv = (
        emb.filter(F.col("vec_id") % 10 != 3)
        .select(_below_offset(F.col("vec_id")).alias("vec_id"), as_double.alias("emb"))
        .unionByName(
            ev.select(
                (_below_offset(F.col("vec_id")) + _COV_V_VERBATIM).alias("vec_id"),
                perturb(1.0).alias("emb"),
            )
        )
        .unionByName(
            ev.select(
                (_below_offset(F.col("vec_id")) + _COV_V_REVERSED).alias("vec_id"),
                perturb(-1.0).alias("emb"),
            )
        )
    )
    cents = emb.filter(
        (F.col("vec_id") % 10 != 3)
        & F.col("vec_id").isin(*_DECON_SEM_CENTROIDS)
    ).select(F.col("vec_id").alias("_cid"), as_double.alias("_cent"))
    sem_flag = cell_probe_flags(
        trainv, ev.select("vec_id", as_double.alias("emb")), cents
    ).select("vec_id")

    t_class = (
        F.when(F.col("doc_id") >= _COV_T_REVERSED, "word_reversed")
        .when(F.col("doc_id") >= _COV_T_VERBATIM, "verbatim_tail")
        .otherwise("organic")
    )
    v_class = (
        F.when(F.col("vec_id") >= _COV_V_REVERSED, "word_reversed")
        .when(F.col("vec_id") >= _COV_V_VERBATIM, "verbatim_tail")
        .otherwise("organic")
    )
    classes = (
        org_t.agg(F.count("*").cast("bigint").alias("n_docs"))
        .select(F.lit("organic").alias("planted_type"), "n_docs")
        .unionByName(
            bench_t.agg(F.count("*").cast("bigint").alias("n_docs")).select(
                F.lit("verbatim_tail").alias("planted_type"), "n_docs"
            )
        )
        .unionByName(
            bench_t.agg(F.count("*").cast("bigint").alias("n_docs")).select(
                F.lit("word_reversed").alias("planted_type"), "n_docs"
            )
        )
    )
    ngc = ngram_flag.groupBy(t_class.alias("planted_type")).agg(
        F.count("*").cast("bigint").alias("ngram_caught")
    )
    smc = sem_flag.groupBy(v_class.alias("planted_type")).agg(
        F.count("*").cast("bigint").alias("semantic_caught")
    )
    expected = (
        F.when(
            F.col("planted_type") == "organic",
            F.col("semantic_caught") == 0,
        )
        .when(
            F.col("planted_type") == "verbatim_tail",
            (F.col("ngram_caught") == F.col("n_docs"))
            & (F.col("semantic_caught") == F.col("n_docs")),
        )
        .otherwise(
            (F.col("ngram_caught") == 0)
            & (F.col("semantic_caught") == F.col("n_docs"))
        )
    )
    return (
        classes.join(ngc, "planted_type", "left")
        .join(smc, "planted_type", "left")
        .select(
            "planted_type",
            "n_docs",
            F.coalesce("ngram_caught", F.lit(0)).cast("bigint").alias(
                "ngram_caught"
            ),
            F.coalesce("semantic_caught", F.lit(0)).cast("bigint").alias(
                "semantic_caught"
            ),
        )
        .withColumn("matches_expectation", expected)
        .orderBy("planted_type")
    )
