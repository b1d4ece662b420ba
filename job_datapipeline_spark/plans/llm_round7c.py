"""Round-7 third batch: Misra-Gries mergeable heavy hitters.

The deterministic counter-based companion to agg_countmin_frequency's
hashed sketch: per-partition Misra-Gries summaries with K counters
(bounded memory regardless of the distinct-token count), merged by
summing estimates, carrying the classic guarantee — every token with
true frequency > n/(K+1) survives, and every estimate undercounts by at
most n/(K+1).  Both properties are verified IN-PLAN against exact
counts and pinned as boolean columns (the agg_approx_distinct
convention), so the oracle checks the GUARANTEE, not the layout-
dependent estimates.

The partition summaries run in an Arrow ``mapInPandas`` stage folding
each Arrow batch's value_counts token-by-token into the counter dict;
whenever the dict exceeds K keys, every one of the K+1 counters loses
d = min(counter values) and the non-positive drop — peak counter size
is K+1 regardless of the Arrow batch's distinct count, and each prune
removes >= (K+1) x d of total mass, which is exactly why no single key
can ever lose more than n/(K+1) (Misra & Gries 1982; merged summaries
keep the bound, Agarwal et al. 2013).

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline: everything here is integer counts and
integer cross-multiplied comparisons — no floats at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..deploy import ensure_shipped
from ..functions.text import tokenize
from .registry import register

_MG_K = 64  # counters per partition summary; guarantee threshold n/(K+1)
_MG_TOP = 20  # exact top tokens reported with their verdicts


def _mg_summaries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batched-decrement Misra-Gries over a partition's token stream."""
    counters: dict[str, int] = {}
    for pdf in batches:
        for tok, c in pdf["tok"].value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > _MG_K:
                # prune inside the fold so peak size is K+1, independent
                # of the Arrow batch's distinct count: all K+1 keys lose
                # d = min count, removing >= (K+1)*d total mass, so every
                # surviving estimate undercounts by at most n/(K+1)
                d = min(counters.values())
                counters = {
                    t: v - d for t, v in counters.items() if v - d > 0
                }
    yield pd.DataFrame(
        {"tok": list(counters.keys()), "est": list(counters.values())}
    )


@register(
    "agg_misra_gries_topk",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    cnt AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS n FROM cnt),
    top AS (
        SELECT tok, exact_cnt FROM cnt
        ORDER BY exact_cnt DESC, tok LIMIT {_MG_TOP}
    )
    SELECT tok, exact_cnt,
           (exact_cnt * {_MG_K + 1}) > t.n AS is_guaranteed,
           true AS guarantee_ok,
           true AS bound_ok
    FROM top CROSS JOIN tot t
    ORDER BY exact_cnt DESC, tok
    """,
    doc=f"Misra-Gries heavy hitters over the corpus token stream: "
        f"per-partition K={_MG_K}-counter summaries in one Arrow "
        "mapInPandas pass (bounded memory no matter how many distinct "
        "tokens a partition holds — the property a plain groupBy lacks "
        "at 100 TB vocabulary scale), merged by summing estimates. The "
        "classic guarantees are verified IN-PLAN against exact counts "
        f"for the top {_MG_TOP} tokens and pinned as booleans the "
        "oracle checks: every token with frequency > n/(K+1) is present "
        "in the merged summary (guarantee_ok), and present estimates "
        "undercount by at most n/(K+1) while never exceeding the truth "
        "(bound_ok) — integer cross-multiplied comparisons, no floats. "
        "Estimates themselves are NOT output: they depend on partition "
        "layout; the guarantee does not. The 100 TB shape: the sketch "
        "side is one map-side pass emitting <= P*K kilobyte rows and "
        "one tiny merge; the exact side (verification baseline, small-"
        "scale-only, the agg_quantile_sketch_mergeable convention) is "
        "the token groupBy the sketch replaces at scale.",
)
def agg_misra_gries_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_shipped(spark)
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .localCheckpoint()  # one tokenize pass feeds sketch AND exact sides
    )
    sketch = (
        toks.mapInPandas(_mg_summaries, "tok string, est long")
        .groupBy("tok")
        .agg(F.sum("est").cast("bigint").alias("est"))
    )
    exact = toks.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("exact_cnt")
    )
    tot = exact.agg(F.sum("exact_cnt").cast("bigint").alias("n"))
    top = exact.orderBy(F.desc("exact_cnt"), "tok").limit(_MG_TOP)
    guaranteed = (F.col("exact_cnt") * (_MG_K + 1)) > F.col("n")
    in_sketch = F.col("est").isNotNull()
    return (
        top.join(F.broadcast(sketch), "tok", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "exact_cnt",
            guaranteed.alias("is_guaranteed"),
            (~guaranteed | in_sketch).alias("guarantee_ok"),
            (
                ~in_sketch
                | (
                    ((F.col("exact_cnt") - F.col("est")) * (_MG_K + 1) <= F.col("n"))
                    & (F.col("est") <= F.col("exact_cnt"))
                )
            ).alias("bound_ok"),
        )
        .orderBy(F.desc("exact_cnt"), "tok")
    )
