"""Round-7 ninth batch: IPF (raking) corpus reweighting.

Training mixtures are usually specified as MARGINS — "equal mass per
language AND equal mass per source" — but documents arrive in (lang,
source) cells whose joint distribution matches neither.  Iterative
proportional fitting (raking) is the classic fix: alternately scale
every cell weight so one margin matches its target, then the other;
two sweeps already get both margins close, and the weights feed
directly into weighted samplers (operators/sampling) as per-cell draw
probabilities.

The whole computation lives on the (lang x source) CELL frame —
bounded by the catalog domains, never by documents — and every
arithmetic step is integer micro-units with explicit `div`, so both
engines replay it bit-identically (the events_markov_attribution
discipline; float raking would be hostage to aggregation order).

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline: ZERO floats — weights, margins and
residuals are micro-unit bigints with floor division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

_IPF_M = 1_000_000
_IPF_SWEEPS = 2


def _ipf_oracle() -> str:
    steps = []
    prev = "w0"
    for s in range(_IPF_SWEEPS):
        steps.append(f"""lm_{s} AS (
        SELECT lang, CAST(sum(n * {prev}) AS BIGINT) AS cur
        FROM cells JOIN {"w0_t" if s == 0 else f"w{s}_t"} USING (lang, source)
        GROUP BY lang
    ),
    wl_{s} AS (
        SELECT c.lang, c.source,
               CAST(({prev} * ((t.lang_target * {_IPF_M}) // l.cur))
                    // {_IPF_M} AS BIGINT) AS wl
        FROM cells c
        JOIN {"w0_t" if s == 0 else f"w{s}_t"} USING (lang, source)
        JOIN lm_{s} l ON l.lang = c.lang
        CROSS JOIN targets t
    ),
    sm_{s} AS (
        SELECT source, CAST(sum(c.n * w.wl) AS BIGINT) AS cur
        FROM cells c JOIN wl_{s} w USING (lang, source)
        GROUP BY source
    ),
    w{s + 1}_t AS (
        SELECT c.lang, c.source,
               CAST((w.wl * ((t.source_target * {_IPF_M}) // s.cur))
                    // {_IPF_M} AS BIGINT) AS w{s + 1}
        FROM cells c
        JOIN wl_{s} w USING (lang, source)
        JOIN sm_{s} s ON s.source = c.source
        CROSS JOIN targets t
    )""")
        prev = f"w{s + 1}"
    final = f"w{_IPF_SWEEPS}"
    return f"""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ),
    doms AS (
        SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(sum(n) AS BIGINT) AS total
        FROM cells
    ),
    targets AS (
        SELECT ((total * {_IPF_M}) // n_langs) AS lang_target,
               ((total * {_IPF_M}) // n_sources) AS source_target
        FROM doms
    ),
    w0_t AS (
        SELECT lang, source, CAST({_IPF_M} AS BIGINT) AS w0 FROM cells
    ),
    {",".join(steps)},
    resid AS (
        SELECT CAST(max(abs(lm.cur - t.lang_target)) AS BIGINT) AS worst
        FROM (SELECT lang, CAST(sum(c.n * w.{final}) AS BIGINT) AS cur
              FROM cells c JOIN w{_IPF_SWEEPS}_t w USING (lang, source)
              GROUP BY lang) lm
        CROSS JOIN targets t
    )
    SELECT c.lang, c.source, c.n,
           w.{final} AS weight_micro,
           CAST((c.n * w.{final}) AS BIGINT) AS mass_micro,
           (SELECT worst FROM resid) AS worst_lang_resid_micro
    FROM cells c JOIN w{_IPF_SWEEPS}_t w USING (lang, source)
    ORDER BY c.lang, c.source
    """


@register(
    "corpus_raking_weights",
    oracle=_ipf_oracle(),
    doc="IPF (raking) corpus reweighting: per-(lang, source) cell "
        "weights alternately scaled so total weighted mass matches an "
        "equal-share LANGUAGE margin, then an equal-share SOURCE margin, "
        f"for {_IPF_SWEEPS} sweeps — the survey-statistics device that "
        "turns margin-specified training mixtures (\"equal mass per "
        "language AND per source\") into per-cell sampling weights for "
        "operators/sampling's weighted draws. Runs entirely on the "
        "CELL frame (|langs| x |sources|, bounded by catalog domains): "
        "documents collapse once in a partial-combining groupBy and are "
        "never touched again. Every step is integer micro-unit "
        "arithmetic with explicit div (the events_markov_attribution "
        "determinism discipline), so the oracle replays it "
        "bit-identically; the readout carries the worst remaining "
        "language-margin residual so callers can decide whether two "
        "sweeps suffice.",
)
def corpus_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()  # the bounded frame every sweep reuses
    )
    doms = cells.agg(
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n").cast("bigint").alias("total"),
    )
    targets = doms.select(
        F.expr(f"(total * {_IPF_M}) div n_langs").alias("lang_target"),
        F.expr(f"(total * {_IPF_M}) div n_sources").alias("source_target"),
    )
    w = cells.crossJoin(F.broadcast(targets)).withColumn(
        "w", F.lit(_IPF_M).cast("bigint")
    )
    for _ in range(_IPF_SWEEPS):
        lm = w.groupBy("lang").agg(F.sum(F.expr("n * w")).alias("cur"))
        w = (
            w.join(F.broadcast(lm), "lang")
            .withColumn(
                "w",
                F.expr(f"(w * ((lang_target * {_IPF_M}) div cur)) div {_IPF_M}"),
            )
            .drop("cur")
        )
        sm = w.groupBy("source").agg(F.sum(F.expr("n * w")).alias("cur"))
        w = (
            w.join(F.broadcast(sm), "source")
            .withColumn(
                "w",
                F.expr(f"(w * ((source_target * {_IPF_M}) div cur)) div {_IPF_M}"),
            )
            .drop("cur")
        )
        w = w.localCheckpoint()  # keep each sweep a bounded-frame job
    lang_resid = (
        w.groupBy("lang")
        .agg(F.sum(F.expr("n * w")).alias("cur"))
        .crossJoin(F.broadcast(targets.select("lang_target")))
        .agg(
            F.max(F.abs(F.col("cur") - F.col("lang_target")))
            .cast("bigint")
            .alias("worst")
        )
    )
    return (
        w.crossJoin(F.broadcast(lang_resid))
        .select(
            "lang",
            "source",
            "n",
            F.col("w").cast("bigint").alias("weight_micro"),
            F.expr("n * w").cast("bigint").alias("mass_micro"),
            F.col("worst").alias("worst_lang_resid_micro"),
        )
        .orderBy("lang", "source")
    )
