"""Round-5 twenty-fourth batch: Gaussian-mixture EM, revenue bridge
decomposition.

Two more named operators:

- Two-component Gaussian-mixture EM over order totals — ITERATIVE ML
  under the exact-replay discipline: the E-step responsibility is one
  deterministic double expression per row, QUANTIZED to micro before
  any aggregation, so every M-step accumulator (responsibility mass,
  weighted sums, weighted squared sums) is an EXACT bigint and the
  parameter trajectory replays identically on any engine and any
  partitioning. Three fixed iterations (the bounded-rounds device the
  k-core peel uses); initialization from exact rank picks (p25/p75)
  and power sums, never from randomness.
- Revenue bridge (volume/rate decomposition) between consecutive
  years per nation — the FP&A "why did revenue move" waterfall:
  volume effect = (n2 - n1) * avg1, rate effect = the exact residual,
  so the bridge identity volume + rate = delta holds to the cent BY
  CONSTRUCTION while each effect is one rounded division.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): responsibility
masses, weighted sums and cents are exact bigints; pdf evaluation is
a per-row deterministic double expression rounded once; each
reported parameter is a final rounded division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import exact_rank_values, int_div
from .registry import register

# ---------------------------------------------------------------------------
# Gaussian-mixture EM
# ---------------------------------------------------------------------------

_EM_ITERS = 3


def _em_oracle() -> str:
    # data: order totals in hecto-dollars (exact ints); the weighted
    # second-moment accumulator r_micro * d^2 must fit int64 — hecto
    # units hold to ~sf0.1x10 (documented in the doc string)
    parts = [
        """
    WITH data AS (
        SELECT CAST(round(o_totalprice / 100) AS BIGINT) AS d,
               o_orderkey
        FROM orders
    ),
    init AS (
        SELECT
            CAST(max(CASE WHEN rk = (n + 3) // 4 THEN d END) AS DOUBLE)
                AS mu1_0,
            CAST(max(CASE WHEN rk = (3 * n + 3) // 4 THEN d END) AS DOUBLE)
                AS mu2_0,
            CAST(max(sn) AS DOUBLE) / max(n)
                - (CAST(max(s) AS DOUBLE) / max(n))
                  * (CAST(max(s) AS DOUBLE) / max(n)) AS var_0,
            0.5 AS w_0
        FROM (
            SELECT d,
                   row_number() OVER (ORDER BY d, o_orderkey) AS rk,
                   count(*) OVER () AS n,
                   sum(d) OVER () AS s,
                   sum(d * d) OVER () AS sn
            FROM data) x
    )"""
    ]
    prev = "init"
    prev_sfx = "0"
    for it in range(1, _EM_ITERS + 1):
        parts.append(f"""
    , resp{it} AS (
        SELECT data.d,
               CAST(round(1000000.0
                   * (p.w_{prev_sfx}
                      * exp(-(data.d - p.mu1_{prev_sfx})
                            * (data.d - p.mu1_{prev_sfx})
                            / (2.0 * p.var_{prev_sfx})))
                   / (p.w_{prev_sfx}
                      * exp(-(data.d - p.mu1_{prev_sfx})
                            * (data.d - p.mu1_{prev_sfx})
                            / (2.0 * p.var_{prev_sfx}))
                      + (1.0 - p.w_{prev_sfx})
                      * exp(-(data.d - p.mu2_{prev_sfx})
                            * (data.d - p.mu2_{prev_sfx})
                            / (2.0 * p.var_{prev_sfx})))) AS BIGINT) AS r
        FROM data CROSS JOIN {prev} p
    ),
    m{it} AS (
        SELECT CAST(sum(r) AS BIGINT) AS m1,
               CAST(sum(1000000 - r) AS BIGINT) AS m2,
               CAST(sum(r * d) AS BIGINT) AS s1,
               CAST(sum((1000000 - r) * d) AS BIGINT) AS s2,
               -- no BIGINT cast: DuckDB's sum() widens to HUGEINT on its
               -- own (exact past 1e20), mirroring the Spark side's
               -- decimal(38,0) accumulators; casting back to BIGINT would
               -- raise out-of-range at the very sf1 scale the int64
               -- overflow was measured at.  q1/q2 are only ever consumed
               -- via CAST(... AS DOUBLE) below, so HUGEINT never reaches
               -- the compared output schema.
               sum(r * d * d) AS q1,
               sum((1000000 - r) * d * d) AS q2,
               CAST(count(*) AS BIGINT) AS n
        FROM resp{it}
    ),
    it{it} AS (
        SELECT CAST(m1 AS DOUBLE) / (1000000.0 * n) AS w_{it},
               CAST(s1 AS DOUBLE) / m1 AS mu1_{it},
               CAST(s2 AS DOUBLE) / m2 AS mu2_{it},
               ((CAST(q1 AS DOUBLE) + q2) / (1000000.0 * n))
                   - (CAST(m1 AS DOUBLE) / (1000000.0 * n))
                     * (CAST(s1 AS DOUBLE) / m1)
                     * (CAST(s1 AS DOUBLE) / m1)
                   - (CAST(m2 AS DOUBLE) / (1000000.0 * n))
                     * (CAST(s2 AS DOUBLE) / m2)
                     * (CAST(s2 AS DOUBLE) / m2) AS var_{it}
        FROM m{it}
    )""")
        prev = f"it{it}"
        prev_sfx = str(it)
    selects = []
    for it in range(1, _EM_ITERS + 1):
        selects.append(
            f"""SELECT CAST({it} AS BIGINT) AS iteration,
               CAST(round(1000000.0 * w_{it}) AS BIGINT) AS w_micro,
               CAST(round(1000000.0 * mu1_{it}) AS BIGINT) AS mu1_micro,
               CAST(round(1000000.0 * mu2_{it}) AS BIGINT) AS mu2_micro,
               CAST(round(1000000.0 * var_{it}) AS BIGINT) AS var_micro
            FROM it{it}"""
        )
    parts.append(
        "SELECT * FROM (" + " UNION ALL ".join(selects) + ") ORDER BY iteration"
    )
    return "\n".join(parts)


@register(
    "ml_em_gaussian_mixture",
    oracle=_em_oracle(),
    doc=f"Two-component Gaussian-mixture EM over order totals "
        f"(hecto-dollars), {_EM_ITERS} fixed iterations, shared "
        "variance — iterative ML under the exact-replay discipline: "
        "initialization comes from exact p25/p75 rank picks (executed "
        "distributed via operators/ranks.exact_rank_values — only the "
        "partitions containing the target ranks sort; no global "
        "window touches the fact) and power sums from one plain "
        "aggregate (never randomness); each E-step responsibility is ONE "
        "deterministic double expression per row, QUANTIZED to micro "
        "before any aggregation, so every M-step accumulator "
        "(responsibility mass m, weighted sum S, weighted square Q, "
        "for both components) is an EXACT bigint — the parameter "
        "trajectory is partition-invariant and replays identically on "
        "any engine, which unquantized float-sum EM cannot promise. "
        "Fixed iteration count is the bounded-rounds device "
        "(convergence is monitorable: iteration k == k-1). Ceilings: "
        "r_micro * d^2 with d in hecto-dollars outgrows int64 near "
        "~1.5e6 rows — MEASURED as an overflow on the sf1 ladder — so "
        "the weighted second moments accumulate in decimal(38,0) "
        "(exact, mergeable; DuckDB's bigint sum widens to hugeint on "
        "its own), good past 1e20 rows; the narrower dials "
        "(responsibility to milli, d to kilo-dollars) remain if "
        "decimal aggregation cost ever matters. "
        "The 100 TB shape: each iteration is one scan with a "
        "broadcast 1-row parameter frame (localCheckpointed so "
        "iteration k+1 never recomputes k), all seven accumulators "
        "partial-combine map-side; k iterations = k bounded passes, "
        "the standard distributed EM schedule.",
)
def ml_em_gaussian_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = (
        table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") / 100).cast("bigint").alias("d"),
            "o_orderkey",
        )
        .localCheckpoint()  # scanned once per EM iteration
    )
    # Initialization without ranking the fact on one partition: the
    # power sums are a plain partial-combining aggregate, and the exact
    # p25/p75 rank picks come from operators/ranks.exact_rank_values —
    # per-partition counts + broadcast offsets locate the two target
    # ranks, and only the partitions containing them are sorted.
    p25 = lambda n: int_div(n + 3, 4)  # noqa: E731
    p75 = lambda n: int_div(3 * n + 3, 4)  # noqa: E731
    stats = data.agg(
        F.count("*").alias("n"),
        F.sum("d").alias("s"),
        F.sum(F.col("d") * F.col("d")).alias("sn"),
    )
    picks = exact_rank_values(data, ["d", "o_orderkey"], [p25, p75], rn_col="rk")
    init = (
        picks.crossJoin(F.broadcast(stats))
        .agg(
            F.max(F.when(F.col("rk") == p25(F.col("n")), F.col("d")))
            .cast("double")
            .alias("mu1"),
            F.max(F.when(F.col("rk") == p75(F.col("n")), F.col("d")))
            .cast("double")
            .alias("mu2"),
            (
                F.max("sn").cast("double") / F.max("n")
                - (F.max("s").cast("double") / F.max("n"))
                * (F.max("s").cast("double") / F.max("n"))
            ).alias("var"),
            F.lit(0.5).alias("w"),
        )
        .localCheckpoint()
    )
    params = init
    out = None
    for it in range(1, _EM_ITERS + 1):
        joined = data.crossJoin(F.broadcast(params))
        d_, w_, mu1, mu2, var = (
            F.col("d"),
            F.col("w"),
            F.col("mu1"),
            F.col("mu2"),
            F.col("var"),
        )
        p1 = w_ * F.exp(-(d_ - mu1) * (d_ - mu1) / (2.0 * var))
        p2 = (1.0 - w_) * F.exp(-(d_ - mu2) * (d_ - mu2) / (2.0 * var))
        resp = joined.select(
            "d",
            F.round(F.lit(1_000_000.0) * p1 / (p1 + p2)).cast("bigint").alias("r"),
        )
        m = resp.agg(
            F.sum("r").cast("bigint").alias("m1"),
            F.sum(1_000_000 - F.col("r")).cast("bigint").alias("m2"),
            F.sum(F.col("r") * F.col("d")).cast("bigint").alias("s1"),
            F.sum((1_000_000 - F.col("r")) * F.col("d"))
            .cast("bigint")
            .alias("s2"),
            # the weighted second moments are the one accumulator pair
            # that outgrows int64 (r_micro * d^2 summed over ~1.5e6 rows
            # — MEASURED as an ARITHMETIC_OVERFLOW on the sf1 ladder,
            # exactly at the ceiling the docstring states): decimal(38,0)
            # sums stay exact and mergeable; DuckDB's bigint sum already
            # widens to hugeint, so the engines agree
            F.sum((F.col("r") * F.col("d") * F.col("d")).cast("decimal(38,0)"))
            .alias("q1"),
            F.sum(
                ((1_000_000 - F.col("r")) * F.col("d") * F.col("d")).cast(
                    "decimal(38,0)"
                )
            ).alias("q2"),
            F.count("*").cast("bigint").alias("n"),
        )
        w_new = F.col("m1").cast("double") / (1_000_000.0 * F.col("n"))
        mu1_new = F.col("s1").cast("double") / F.col("m1")
        mu2_new = F.col("s2").cast("double") / F.col("m2")
        var_new = (
            (F.col("q1").cast("double") + F.col("q2")) / (1_000_000.0 * F.col("n"))
            - w_new * mu1_new * mu1_new
            - (F.col("m2").cast("double") / (1_000_000.0 * F.col("n")))
            * mu2_new
            * mu2_new
        )
        params = m.select(
            w_new.alias("w"),
            mu1_new.alias("mu1"),
            mu2_new.alias("mu2"),
            var_new.alias("var"),
        ).localCheckpoint()
        row = params.select(
            F.lit(it).cast("bigint").alias("iteration"),
            F.round(F.lit(1_000_000.0) * F.col("w")).cast("bigint").alias("w_micro"),
            F.round(F.lit(1_000_000.0) * F.col("mu1"))
            .cast("bigint")
            .alias("mu1_micro"),
            F.round(F.lit(1_000_000.0) * F.col("mu2"))
            .cast("bigint")
            .alias("mu2_micro"),
            F.round(F.lit(1_000_000.0) * F.col("var"))
            .cast("bigint")
            .alias("var_micro"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("iteration")


# ---------------------------------------------------------------------------
# Revenue bridge decomposition
# ---------------------------------------------------------------------------

_BRIDGE_Y1 = 1996
_BRIDGE_Y2 = 1997


@register(
    "orders_bridge_decomposition",
    oracle=f"""
    WITH yearly AS (
        SELECT n.n_name AS nation,
               year(o.o_orderdate) AS y,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE year(o.o_orderdate) IN ({_BRIDGE_Y1}, {_BRIDGE_Y2})
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT nation,
               max(CASE WHEN y = {_BRIDGE_Y1} THEN n END) AS n1,
               max(CASE WHEN y = {_BRIDGE_Y1} THEN cents END) AS c1,
               max(CASE WHEN y = {_BRIDGE_Y2} THEN n END) AS n2,
               max(CASE WHEN y = {_BRIDGE_Y2} THEN cents END) AS c2
        FROM yearly GROUP BY nation
        HAVING max(CASE WHEN y = {_BRIDGE_Y1} THEN n END) IS NOT NULL
           AND max(CASE WHEN y = {_BRIDGE_Y2} THEN n END) IS NOT NULL
    )
    SELECT nation, n1, n2, c1, c2,
           CAST(c2 - c1 AS BIGINT) AS delta_cents,
           CAST(round(1.0 * (n2 - n1) * c1 / n1) AS BIGINT)
               AS volume_effect_cents,
           CAST((c2 - c1) - round(1.0 * (n2 - n1) * c1 / n1) AS BIGINT)
               AS rate_effect_cents
    FROM wide ORDER BY nation
    """,
    doc=f"Revenue bridge {_BRIDGE_Y1}->{_BRIDGE_Y2} per nation — the "
        "FP&A 'why did revenue move' waterfall: volume effect = "
        "(order-count change) x (prior-year average order value), "
        "rate effect = the EXACT RESIDUAL delta - volume, so the "
        "bridge identity volume + rate = delta holds to the cent BY "
        "CONSTRUCTION (computing both effects independently and "
        "letting rounding break the bridge is the classic "
        "spreadsheet bug this form eliminates). Counts and cents are "
        "exact; the volume effect is ONE rounded division. The "
        "100 TB shape: one filtered scan partial-aggregates both "
        "years per nation in the same pass (conditional aggregation, "
        "no second scan), dims broadcast, output is nation-sized.",
)
def orders_bridge_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(_BRIDGE_Y1, _BRIDGE_Y2)
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("y"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    wide = (
        yearly.groupBy("nation")
        .agg(
            F.max(F.when(F.col("y") == _BRIDGE_Y1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("y") == _BRIDGE_Y1, F.col("cents"))).alias("c1"),
            F.max(F.when(F.col("y") == _BRIDGE_Y2, F.col("n"))).alias("n2"),
            F.max(F.when(F.col("y") == _BRIDGE_Y2, F.col("cents"))).alias("c2"),
        )
        .filter(F.col("n1").isNotNull() & F.col("n2").isNotNull())
    )
    volume = F.round(
        F.lit(1.0) * (F.col("n2") - F.col("n1")) * F.col("c1") / F.col("n1")
    ).cast("bigint")
    return wide.select(
        "nation",
        "n1",
        "n2",
        "c1",
        "c2",
        (F.col("c2") - F.col("c1")).cast("bigint").alias("delta_cents"),
        volume.alias("volume_effect_cents"),
        ((F.col("c2") - F.col("c1")) - volume)
        .cast("bigint")
        .alias("rate_effect_cents"),
    ).orderBy("nation")
