"""Round-9 first batch: cross-corpus SEMANTIC decontamination.

``corpus_decontaminate`` (n-gram overlap, r1) implements the GPT-3-style
hygiene filter, but paraphrased benchmark leakage shares no 8-gram with
the eval set — the contamination n-grams structurally miss.  The
embedding-space twin probes EVAL-SET embeddings against the TRAINING
corpus through a shared coarse quantizer (the SemDeDup cell device of
``operators/dedup.semantic_prune``, used cross-corpus): candidate pairs
exist only within shared cells, an exact cosine rerank confirms, and
every training doc with cosine >= threshold to any benchmark item is
flagged for removal.

Single-probe cell joins have a known failure: a near-duplicate sitting
just across a quantizer boundary lands in a different cell and is never
compared (observed here — 1/25 planted pairs at sf0.001, 7/100 at
sf0.1 under top-1 assignment).  The standard IVF answer is MULTI-PROBE
on the query side: each eval vector searches its ``nprobe`` nearest
cells (3 of 8 here, full planted recall at every test SF).  The probe
fan-out multiplies only the tiny eval side; the training corpus keeps
exactly one cell per doc, so the partitioned-by-cell layout and
per-cell join cost are unchanged.

The planted contamination is a PARAPHRASE, not a copy: eval vectors are
re-inserted into the training corpus under offset ids with a small
deterministic directional perturbation (+-0.01 alternating per
dimension -> cosine ~0.997 to the original, far from 1.0), which n-gram
decontamination would never connect.  Organic cross-corpus cosines on
this testdata top out at ~0.51, so threshold 0.9 flags exactly the
planted set; the in-plan ``all_planted_caught`` verdict certifies the
recall (and the oracle hash pins it cross-engine).

Reference parity: none (glassdoor-scraper has no embeddings at all);
this extends the dedup family mandated by the LLM-pipeline brief.
Scale shape: assignment is a broadcast-centroid argmin (map-side), the
candidate stage is an equi-join ON THE CELL KEY — O(|train_cell| x
|eval_cell|) per cell, never O(train x eval) — and at 100 TB the
training corpus is written partitioned by cell so the probe is
partition-local with only the (tiny) eval side shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.decontam import (
    SEM_CENTROID_IDS as _DECON_SEM_CENTROIDS,
    SEM_NPROBE as _DECON_SEM_NPROBE,
    SEM_THRESHOLD as _DECON_SEM_THRESHOLD,
    cell_probe_flags,
)
from .registry import register

# Offset for planted (re-inserted) eval ids.  1e6 matches the text-side
# convention and gives ~500x headroom over sf0.1's max vec_id (1999) —
# the previous 1e4 had only ~5x, so a modestly larger embeddings table
# would silently spill verbatim ids into foreign id ranges (r9 ADVICE).
# The in-plan guard below still asserts the precondition outright.
_DECON_SEM_OFFSET = 1_000_000

_CAST_D = "[CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)]"
_SEM_L2_D = (
    "round(sqrt(list_sum(["
    "(x.emb[i] - c.cent[i]) * (x.emb[i] - c.cent[i]) "
    "FOR i IN range(1, 65)])), 6)"
)


@register(
    "corpus_decontaminate_semantic",
    oracle=f"""
    WITH eval AS (
        SELECT vec_id, {_CAST_D} AS emb
        FROM embeddings WHERE vec_id % 10 = 3
    ),
    train AS (
        SELECT vec_id, {_CAST_D} AS emb
        FROM embeddings WHERE vec_id % 10 <> 3
        UNION ALL
        SELECT vec_id + {_DECON_SEM_OFFSET} AS vec_id,
               [CAST(embedding[i] AS DOUBLE)
                + 0.01 * (CASE WHEN i % 2 = 1 THEN 1.0 ELSE -1.0 END)
                FOR i IN range(1, 65)] AS emb
        FROM embeddings WHERE vec_id % 20 = 3
    ),
    cents AS (
        SELECT vec_id AS cid, {_CAST_D} AS cent
        FROM embeddings
        WHERE vec_id % 10 <> 3 AND vec_id IN {_DECON_SEM_CENTROIDS}
    ),
    assign AS (
        SELECT side, vec_id, emb, cid AS cell FROM (
            SELECT x.side, x.vec_id, x.emb, c.cid,
                   row_number() OVER (PARTITION BY x.side, x.vec_id
                                      ORDER BY {_SEM_L2_D}, c.cid) AS r
            FROM (SELECT 't' AS side, vec_id, emb FROM train
                  UNION ALL
                  SELECT 'e' AS side, vec_id, emb FROM eval) x
            CROSS JOIN cents c) y
        WHERE (side = 't' AND r = 1)
           OR (side = 'e' AND r <= {_DECON_SEM_NPROBE})
    ),
    flags AS (
        SELECT t.vec_id,
               count(*) AS n_bench_hits,
               max(round(list_dot_product(t.emb, e.emb) /
                         (sqrt(list_dot_product(t.emb, t.emb)) *
                          sqrt(list_dot_product(e.emb, e.emb))), 6))
                   AS max_cos
        FROM (SELECT * FROM assign WHERE side = 't') t
        JOIN (SELECT * FROM assign WHERE side = 'e') e USING (cell)
        WHERE round(list_dot_product(t.emb, e.emb) /
                    (sqrt(list_dot_product(t.emb, t.emb)) *
                     sqrt(list_dot_product(e.emb, e.emb))), 6)
              >= {_DECON_SEM_THRESHOLD}
        GROUP BY t.vec_id
    ),
    np AS (
        SELECT count(*) AS n_planted FROM embeddings WHERE vec_id % 20 = 3
    )
    SELECT f.vec_id,
           f.vec_id >= {_DECON_SEM_OFFSET} AS is_planted,
           f.n_bench_hits,
           f.max_cos,
           (SELECT count(*) FROM flags
            WHERE vec_id >= {_DECON_SEM_OFFSET})
               = (SELECT n_planted FROM np) AS all_planted_caught
    FROM flags f
    ORDER BY f.vec_id
    """,
    doc="Cross-corpus SEMANTIC decontamination — the paraphrase-leakage "
        "filter n-gram overlap (corpus_decontaminate) structurally "
        "misses: eval-set embeddings are probed against the training "
        "corpus through the SemDeDup coarse quantizer "
        "(operators/dedup.semantic_prune's cell device, cross-corpus), "
        "candidates exist WITHIN SHARED CELLS ONLY — with IVF-style "
        "multi-probe (nprobe=3 of 8) on the eval side, closing the "
        "quantizer-boundary misses top-1 assignment provably has — and "
        "an exact cosine rerank (round 6) flags every training doc with "
        "cosine >= 0.9 to any benchmark item. Contamination is planted "
        "as perturbed "
        "eval vectors (+-0.01 alternating per dim, cosine ~0.997 — a "
        "paraphrase, not a copy) under offset ids; organic cosines top "
        "out ~0.51, so the flag set is exactly the planted set and the "
        "in-plan all_planted_caught verdict certifies recall. Scale "
        "shape: broadcast-centroid argmin assignment (map-side), then "
        "an equi-join on the cell key — never train x eval; at 100 TB "
        "the corpus is written partitioned by cell and the probe is "
        "partition-local with only the tiny eval side shuffled.",
)
def corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    # Spark transform indexes 0-based; DuckDB range() 1-based — i % 2 == 0
    # here IS i % 2 = 1 there, so the alternating signs line up.
    perturbed = F.transform(
        "embedding",
        lambda x, i: x.cast("double")
        + 0.01 * F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    eval_set = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id", as_double.alias("emb")
    )
    # In-plan precondition guard: is_planted below decodes planted-ness as
    # vec_id >= OFFSET, so every SOURCE id must sit below the offset — an
    # embeddings table violating that would silently misclassify instead
    # of failing.  assert_true folded into the consumed vec_id projection
    # (one long comparison per row) fails the job loudly.
    def _below_offset(c):
        chk = F.assert_true(
            c < F.lit(_DECON_SEM_OFFSET),
            F.lit(
                "corpus_decontaminate_semantic: source vec_id >= planted-id "
                f"offset {_DECON_SEM_OFFSET} — raise _DECON_SEM_OFFSET"
            ),
        )
        return F.when(chk.isNull(), c)

    train = (
        emb.filter(F.col("vec_id") % 10 != 3)
        .select(_below_offset(F.col("vec_id")).alias("vec_id"), as_double.alias("emb"))
        .unionByName(
            emb.filter(F.col("vec_id") % 20 == 3).select(
                (_below_offset(F.col("vec_id")) + _DECON_SEM_OFFSET).alias("vec_id"),
                perturbed.alias("emb"),
            )
        )
    )
    cents = (
        emb.filter(
            (F.col("vec_id") % 10 != 3)
            & F.col("vec_id").isin(*_DECON_SEM_CENTROIDS)
        )
        .select(F.col("vec_id").alias("_cid"), as_double.alias("_cent"))
    )
    flags = cell_probe_flags(train, eval_set, cents)
    n_planted = emb.filter(F.col("vec_id") % 20 == 3).agg(
        F.count("*").alias("_n_planted")
    )
    n_caught = flags.agg(
        F.sum(
            (F.col("vec_id") >= _DECON_SEM_OFFSET).cast("long")
        ).alias("_n_caught")
    )
    return (
        flags.crossJoin(F.broadcast(n_planted))
        .crossJoin(F.broadcast(n_caught))
        .select(
            "vec_id",
            (F.col("vec_id") >= _DECON_SEM_OFFSET).alias("is_planted"),
            "n_bench_hits",
            "max_cos",
            (F.col("_n_caught") == F.col("_n_planted")).alias(
                "all_planted_caught"
            ),
        )
        .orderBy("vec_id")
    )
