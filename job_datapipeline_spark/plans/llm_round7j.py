"""Round-7 tenth batch: exact 1-D Wasserstein (earth-mover) shift.

PSI and KS answer "did the distribution move?"; the Wasserstein-1
distance answers "by HOW MUCH, in the unit of the value" — the integral
of |F_A - F_B| over the value axis, i.e. the average cents each unit of
probability mass must travel.  That makes it the drift metric of choice
for feature monitoring: threshold it in cents, not in abstract index
units.

Exactness device: on the DISTINCT-VALUE frame, W1 = sum over adjacent
value gaps of |cumA * nB - cumB * nA| * gap, all exact bigints (the
cross-multiplied ECDF difference avoids any division inside the sum,
the agg_ks_test convention), accumulated in DECIMAL(38,0) for overflow
headroom; ONE closing IEEE division reports micro-cents.  The running
counts AND the global row number (used to join each value to its
ordered successor) come off a SINGLE operators/ranks.global_cumsum
range pass — no single-partition window anywhere.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline: exact bigint/decimal accumulation; one
rounded division at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import global_cumsum
from .registry import register

_W1_YEAR_A = 1995
_W1_YEAR_B = 1996


@register(
    "agg_wasserstein_shift",
    oracle=f"""
    WITH data AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               year(o_orderdate) AS yr
        FROM orders WHERE year(o_orderdate) IN ({_W1_YEAR_A}, {_W1_YEAR_B})
    ),
    cells AS (
        SELECT v,
               CAST(sum(CASE WHEN yr = {_W1_YEAR_A} THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(sum(CASE WHEN yr = {_W1_YEAR_B} THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM data GROUP BY v
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
        FROM cells
    ),
    cum AS (
        SELECT v,
               CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
               CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb,
               lead(v) OVER (ORDER BY v) AS next_v
        FROM cells
    ),
    acc AS (
        SELECT CAST(sum(CAST(abs(cuma * t.nb - cumb * t.na) AS DECIMAL(38,0))
                        * (next_v - v)) AS DECIMAL(38,0)) AS numer
        FROM cum CROSS JOIN tot t
        WHERE next_v IS NOT NULL
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           CAST((SELECT count(*) FROM cells) AS BIGINT) AS distinct_values,
           CAST(round(1000000.0 * CAST(a.numer AS DOUBLE)
                      / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)))
                AS BIGINT) AS w1_micro_cents
    FROM tot t CROSS JOIN acc a
    """,
    doc=f"Exact 1-D Wasserstein (earth-mover) distance between the "
        f"{_W1_YEAR_A} and {_W1_YEAR_B} order-total distributions, in "
        "micro-CENTS — 'how far does the distribution move, in the "
        "value's own unit', the thresholdable drift metric PSI/KS are "
        "not. W1 = integral of |ECDF_A - ECDF_B| over the value axis, "
        "computed on the DISTINCT-CENT frame as sum(|cumA*nB - cumB*nA| "
        "* gap) — cross-multiplied exact bigints (no division inside "
        "the sum), DECIMAL(38,0) accumulation, ONE closing rounded "
        "division. The running counts and the row number that joins "
        "each value to its ordered successor come off a SINGLE "
        "operators/ranks.global_cumsum range pass (rn_col) — no "
        "single-partition window, no second shuffle of the value "
        "frame; the successor lookup is an equi-join on rn+1. The "
        "100 TB shape: orders collapse once into the value-frame "
        "partial agg; everything after moves the distinct-value dim.",
)
def agg_wasserstein_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    yr = F.year("o_orderdate")
    data = (
        table(spark, sf_dir, "orders")
        .where(yr.isin(_W1_YEAR_A, _W1_YEAR_B))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            yr.alias("yr"),
        )
    )
    cells = data.groupBy("v").agg(
        F.sum(F.when(F.col("yr") == _W1_YEAR_A, 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("yr") == _W1_YEAR_B, 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    cum = global_cumsum(
        cells, ["v"], ["ca", "cb"], out_col=["cuma", "cumb"], rn_col="rn"
    ).localCheckpoint()  # feeds totals, both join sides, and the count
    tot = cum.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.count("*").cast("bigint").alias("distinct_values"),
    )
    nxt = cum.select((F.col("rn") - 1).alias("rn"), F.col("v").alias("next_v"))
    acc = (
        cum.join(nxt, "rn")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.abs(
                    F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
                ).cast("decimal(38,0)")
                * (F.col("next_v") - F.col("v"))
            )
            .cast("decimal(38,0)")
            .alias("numer")
        )
    )
    return tot.crossJoin(F.broadcast(acc)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "distinct_values",
        F.round(
            F.lit(1_000_000.0)
            * F.col("numer").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
        )
        .cast("bigint")
        .alias("w1_micro_cents"),
    )
