"""Round-8 seventh batch: Qini curve — the uplift-modeling evaluation.

``ml_gains_table`` grades a RESPONSE model (who converts); a Qini curve
grades an UPLIFT model (who converts BECAUSE OF the treatment) — the
number that decides whether a targeting policy beats blanket rollout.
With users ranked by the model's score into exact deciles, the Qini
value at depth k is the cumulative treated conversions minus the
control conversions scaled to the treated exposure:
``Q(k) = conv_t(k) - conv_c(k) * n_t(k) / n_c(k)``.  A model with no
signal gives a flat line; the area under the curve is the standard
uplift metric.

Determinism discipline: treatment assignment is the user-id parity
(the repo's deterministic A/B device, cf. events_ab_test_ztest/CUPED),
the outcome is the exact purchase-event count, the score is the exact
click count, decile membership is operators/ranks.exact_ntile with
(score DESC, user_id) pinned ties, and the single float — the exposure
scaling — is one double expression of exact bigints rounded once to
micro, identical on both engines.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import exact_ntile
from .llm_round6 import _cum_small
from .registry import register

_QINI_K = 10


@register(
    "ml_uplift_qini",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS treated,
               CAST(count(*) FILTER (WHERE event_type = 'click')
                    AS BIGINT) AS score,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS conv
        FROM events GROUP BY 1
    ),
    d AS (
        SELECT treated, conv,
               ntile({_QINI_K}) OVER (ORDER BY score DESC, user_id) AS decile
        FROM u
    ),
    g AS (
        SELECT decile,
               CAST(count(*) FILTER (WHERE treated = 1) AS BIGINT) AS n_t,
               CAST(count(*) FILTER (WHERE treated = 0) AS BIGINT) AS n_c,
               CAST(coalesce(sum(conv) FILTER (WHERE treated = 1), 0)
                    AS BIGINT) AS conv_t,
               CAST(coalesce(sum(conv) FILTER (WHERE treated = 0), 0)
                    AS BIGINT) AS conv_c
        FROM d GROUP BY 1
    ),
    c AS (
        SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c,
               CAST(sum(n_t) OVER w AS BIGINT) AS cum_n_t,
               CAST(sum(n_c) OVER w AS BIGINT) AS cum_n_c,
               CAST(sum(conv_t) OVER w AS BIGINT) AS cum_conv_t,
               CAST(sum(conv_c) OVER w AS BIGINT) AS cum_conv_c
        FROM g WINDOW w AS (ORDER BY decile)
    )
    SELECT decile, n_t, n_c, cum_conv_t, cum_conv_c,
           CASE WHEN cum_n_c = 0 THEN NULL
                ELSE CAST(round(1000000.0 * (cum_conv_t
                          - 1.0 * cum_conv_c * cum_n_t / cum_n_c))
                     AS BIGINT) END AS qini_micro
    FROM c ORDER BY decile
    """,
    doc=f"Qini curve in {_QINI_K} exact deciles — the uplift-modeling "
        "evaluation (gains_table grades response; this grades "
        "INCREMENTAL response vs the parity-assigned control): users "
        "rank by exact click count (ties pinned by user_id) via "
        "operators/ranks.exact_ntile, and each cumulative depth "
        "reports treated conversions minus control conversions scaled "
        "to treated exposure, rounded once to micro. The decile frame "
        "is MATERIALIZED before the window-free triangular cumulative "
        "(the lorenz/gains replay lesson, applied from birth). The "
        "100 TB shape: events collapse to the user dim in one "
        "partial-combining exchange, the ntile pass is two parallel "
        "shuffles of that dim, and everything after is 10-row "
        "arithmetic.",
)
def ml_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("event_type") == "click")
            .cast("bigint")
            .alias("score"),
            F.count_if(F.col("event_type") == "purchase")
            .cast("bigint")
            .alias("conv"),
        )
        .select(
            "user_id",
            (F.col("user_id") % 2).cast("bigint").alias("treated"),
            "score",
            "conv",
        )
    )
    d = exact_ntile(
        u, [F.col("score").desc(), "user_id"], _QINI_K, out_col="decile"
    )
    g = (
        d.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count_if(F.col("treated") == 1).cast("bigint").alias("n_t"),
            F.count_if(F.col("treated") == 0).cast("bigint").alias("n_c"),
            F.coalesce(
                F.sum(F.when(F.col("treated") == 1, F.col("conv"))), F.lit(0)
            )
            .cast("bigint")
            .alias("conv_t"),
            F.coalesce(
                F.sum(F.when(F.col("treated") == 0, F.col("conv"))), F.lit(0)
            )
            .cast("bigint")
            .alias("conv_c"),
        )
        .localCheckpoint()  # feeds both sides of the triangular cumulative
    )
    cum = _cum_small(g, "decile", ["n_t", "n_c", "conv_t", "conv_c"])
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        F.col("cum_conv_t"),
        F.col("cum_conv_c"),
        F.when(F.col("cum_n_c") == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.round(
                F.lit(1_000_000.0)
                * (
                    F.col("cum_conv_t")
                    - F.lit(1.0)
                    * F.col("cum_conv_c")
                    * F.col("cum_n_t")
                    / F.col("cum_n_c")
                )
            ).cast("bigint")
        )
        .alias("qini_micro"),
    ).orderBy("decile")
