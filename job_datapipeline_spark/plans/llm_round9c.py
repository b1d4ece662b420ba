"""Round-9 third batch: epoch-capped corpus upsampling — the half of the
pretraining mixture recipe the sampling family was missing.

``corpus_mixture_sample`` realizes target proportions WITHOUT
upsampling (rates <= 1, the largest exact mixture) and
``corpus_mix_budget`` allocates a budget below availability.  Real
recipes also run the other direction: a small high-quality source is
REPEATED — Wikipedia-style sources at 2-4 epochs in the
GPT-3/Llama-style mixes — with a hard per-source epoch CAP so no
source over-repeats regardless of its weight.  This query derives each
language's epoch multiplier from (weight, budget, availability) in
exact integer milli-epochs, caps it, realizes it with
``operators/sampling.epoch_upsample`` (floor full copies + one
fractional copy by cross-multiplied 16-bit md5 draw), and reports the
achieved mix with a per-language cap-hit flag.

Determinism: weights are a pure function of the language string
(md5-derived 0..255 + 50), the budget is exactly 2x corpus tokens, and
every division is bigint ``div`` — the realized copy multiset is
bit-identical across engines, which the oracle hash certifies.

Reference parity: none (the reference has no sampling at all); extends
the corpus-curation family mandated by the LLM-pipeline brief.
Scale shape: one narrow count aggregate builds the language dim, the
dim broadcasts, and realization is MAP-SIDE array_repeat/posexplode
bounded by the cap — no shuffle touches the replicated corpus until
the report's final per-language aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.sampling import epoch_upsample
from .registry import register

_EPOCH_CAP_MILLI = 2_500     # no source repeats past 2.5 epochs
_EPOCH_BUDGET_MULT = 2       # global budget = 2x corpus tokens
_EPOCH_SALT = "ep1"


@register(
    "corpus_epoch_upsample",
    oracle=f"""
    WITH docs AS (
        SELECT lang, doc_id,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS ntok
        FROM documents
    ),
    avail AS (
        SELECT lang, CAST(sum(ntok) AS BIGINT) AS avail_tokens,
               CAST(count(*) AS BIGINT) AS n_docs,
               50 + ('0x' || substring(md5(lang), 1, 2))::BIGINT AS w
        FROM docs GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(avail_tokens) AS BIGINT) * {_EPOCH_BUDGET_MULT}
                   AS budget,
               CAST(sum(w) AS BIGINT) AS wsum
        FROM avail
    ),
    dim AS (
        SELECT lang, avail_tokens,
               (budget * w) // wsum AS target_tokens,
               least(((budget * w) // wsum) * 1000 // avail_tokens,
                     {_EPOCH_CAP_MILLI}) AS epochs_milli,
               ((budget * w) // wsum) * 1000 // avail_tokens
                   > {_EPOCH_CAP_MILLI} AS cap_hit
        FROM avail, tot
    ),
    realized AS (
        SELECT lang, ntok, unnest(range(0, n_copies)) AS c
        FROM (
            SELECT docs.lang, docs.ntok,
                   (epochs_milli // 1000)
                   + CASE WHEN ('0x' || substring(md5('{_EPOCH_SALT}:'
                                || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                              * 1000
                          < (epochs_milli % 1000) * 65536
                          THEN 1 ELSE 0 END AS n_copies
            FROM docs JOIN dim USING (lang)) d
    )
    SELECT dim.lang,
           dim.avail_tokens,
           dim.target_tokens,
           CAST(dim.epochs_milli AS BIGINT) AS epochs_milli,
           CAST(coalesce(r.n_docs_out, 0) AS BIGINT) AS n_docs_out,
           CAST(coalesce(r.tokens_out, 0) AS BIGINT) AS tokens_out,
           dim.cap_hit
    FROM dim
    LEFT JOIN (
        SELECT lang, count(*) AS n_docs_out, sum(ntok) AS tokens_out
        FROM realized GROUP BY lang) r USING (lang)
    ORDER BY dim.lang
    """,
    doc=f"Epoch-capped corpus upsampling — the REPEAT direction of the "
        "pretraining mixture recipe (corpus_mixture_sample only thins): "
        "md5-derived per-language weights and a budget of "
        f"{_EPOCH_BUDGET_MULT}x corpus tokens yield exact integer "
        "milli-epoch multipliers, hard-capped at "
        f"{_EPOCH_CAP_MILLI / 1000} epochs per source; realization is "
        "floor full copies + one fractional copy per cross-multiplied "
        "16-bit md5 draw (operators/sampling.epoch_upsample). Output: "
        "per-language available vs target tokens, the capped "
        "multiplier, realized docs/tokens, and the cap-hit flag — the "
        "achieved-mix report a data-recipe review reads. The realized "
        "copy multiset is bit-identical across engines (all-integer "
        "arithmetic), which the oracle hash certifies. 100 TB shape: "
        "narrow count agg -> broadcast language dim -> MAP-SIDE "
        "array_repeat/posexplode bounded by the cap; the replicated "
        "corpus is never shuffled until the final per-language "
        "aggregate.",
)
def corpus_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).cast("bigint").alias("ntok"),
    )
    w = 50 + F.conv(F.substring(F.md5("lang"), 1, 2), 16, 10).cast("bigint")
    avail = docs.groupBy("lang").agg(
        F.sum("ntok").cast("bigint").alias("avail_tokens"),
        F.count("*").cast("bigint").alias("n_docs"),
    ).withColumn("w", w)
    tot = avail.agg(
        (F.sum("avail_tokens").cast("bigint") * _EPOCH_BUDGET_MULT).alias("budget"),
        F.sum("w").cast("bigint").alias("wsum"),
    )
    uncapped = F.expr("(budget * w) div wsum * 1000 div avail_tokens")
    dim = (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "avail_tokens",
            F.expr("(budget * w) div wsum").alias("target_tokens"),
            F.least(uncapped, F.lit(_EPOCH_CAP_MILLI)).alias("epochs_milli"),
            (uncapped > _EPOCH_CAP_MILLI).alias("cap_hit"),
        )
        .localCheckpoint()  # feeds the broadcast realization AND the report
    )
    realized = epoch_upsample(
        docs.join(F.broadcast(dim.select("lang", "epochs_milli")), "lang"),
        "epochs_milli",
        key_col="doc_id",
        salt=_EPOCH_SALT,
    )
    report = realized.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs_out"),
        F.sum("ntok").cast("bigint").alias("tokens_out"),
    )
    return (
        dim.join(report, "lang", "left")
        .select(
            "lang",
            "avail_tokens",
            "target_tokens",
            F.col("epochs_milli").cast("bigint").alias("epochs_milli"),
            F.coalesce("n_docs_out", F.lit(0)).cast("bigint").alias("n_docs_out"),
            F.coalesce("tokens_out", F.lit(0)).cast("bigint").alias("tokens_out"),
            "cap_hit",
        )
        .orderBy("lang")
    )
