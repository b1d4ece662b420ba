"""Round-5 fourteenth batch: grid-bucketed nearest-neighbor geo join,
two-sample KS test, Mann-Whitney U, trimmed mean.

Four more named operators:

- Nearest supplier per customer through a GRID-BUCKETED spatial join —
  the device that makes nearest-neighbor joins tractable at scale:
  quantize coordinates to micro-degree ints, bucket into 5-degree
  cells, expand each probe point to its 3x3 cell neighborhood, join
  on cell, rank candidates by EXACT integer squared degree distance.
  No all-pairs cross join ever exists; the candidate set per probe is
  bounded by neighborhood density. (Coordinates here are derived
  deterministically from keys — the fixture stand-in for a real
  lat/lon column; production would add a haversine display column,
  but RANKING stays on the exact integer metric.)
- Two-sample Kolmogorov-Smirnov test (urgent vs low order totals):
  D = max |ECDF1 - ECDF2| computed as an EXACT integer maximum of
  |cum1*n2 - cum2*n1| over the merged value domain — one division at
  the very end. The distribution-drift test with zero float
  accumulation.
- Mann-Whitney U (rank-sum) test with average-rank tie handling and
  the tie-corrected normal approximation: doubled rank sums keep
  every tie-averaged rank an exact integer; the z statistic is one
  closed-form double expression over exact integer accumulators.
- Trimmed mean (5% each side) per group by exact rank bounds — the
  robust location estimate with deterministic row selection (ties
  broken by key), exact cent sums, one final division.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): distances,
ECDF cross-products, doubled rank sums and cent sums are exact
bigints; z statistics are single deterministic double expressions;
each reported ratio is one rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import global_cumsum
from .registry import register

# ---------------------------------------------------------------------------
# Grid-bucketed nearest-neighbor geo join
# ---------------------------------------------------------------------------

_GEO_CELL_DEG = 5  # bucket size in degrees; neighborhood = 3x3 cells


def _synth_lat_lon(key_col: str, salt_lat: int, salt_lon: int):
    """Deterministic fixture coordinates: lat in [-80, 80), lon in
    [-180, 180), quantized to centi-degrees (exact ints scaled 1e2,
    held as micro-degrees x1e6 downstream)."""
    lat = ((F.col(key_col) * salt_lat) % 16000).cast("bigint") * 10_000 - 80_000_000
    lon = ((F.col(key_col) * salt_lon) % 36000).cast("bigint") * 10_000 - 180_000_000
    return lat, lon


@register(
    "geo_nearest_supplier",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey,
               CAST((c_custkey * 7919) % 16000 AS BIGINT) * 10000
                   - 80000000 AS lat,
               CAST((c_custkey * 104729) % 36000 AS BIGINT) * 10000
                   - 180000000 AS lon
        FROM customer WHERE c_custkey % 10 = 0
    ),
    supp AS (
        SELECT s_suppkey,
               CAST((s_suppkey * 6151) % 16000 AS BIGINT) * 10000
                   - 80000000 AS lat,
               CAST((s_suppkey * 3571) % 36000 AS BIGINT) * 10000
                   - 180000000 AS lon
        FROM supplier
    ),
    scell AS (
        SELECT s_suppkey, lat, lon,
               CAST(floor(lat / ({_GEO_CELL_DEG} * 1000000.0)) AS BIGINT)
                   AS cx,
               CAST(floor(lon / ({_GEO_CELL_DEG} * 1000000.0)) AS BIGINT)
                   AS cy
        FROM supp
    ),
    probe AS (
        SELECT c.c_custkey, c.lat, c.lon,
               CAST(floor(c.lat / ({_GEO_CELL_DEG} * 1000000.0)) AS BIGINT)
                   + dx.dx AS cx,
               CAST(floor(c.lon / ({_GEO_CELL_DEG} * 1000000.0)) AS BIGINT)
                   + dy.dy AS cy
        FROM cust c,
             (VALUES (-1), (0), (1)) dx(dx),
             (VALUES (-1), (0), (1)) dy(dy)
    ),
    cand AS (
        SELECT p.c_custkey,
               s.s_suppkey,
               (p.lat - s.lat) / 1000 * ((p.lat - s.lat) / 1000)
                   + (p.lon - s.lon) / 1000 * ((p.lon - s.lon) / 1000)
                   AS dist2_milli
        FROM probe p JOIN scell s ON s.cx = p.cx AND s.cy = p.cy
    )
    SELECT c_custkey, s_suppkey, CAST(dist2_milli AS BIGINT) AS dist2_milli
    FROM (
        SELECT c_custkey, s_suppkey, dist2_milli,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY dist2_milli, s_suppkey) AS rk
        FROM cand) x
    WHERE rk = 1
    ORDER BY c_custkey
    """,
    doc="Nearest supplier per customer via the GRID-BUCKETED spatial "
        f"join: coordinates quantized to micro-degree ints, bucketed "
        f"into {_GEO_CELL_DEG}-degree cells, each probe expanded to its "
        "3x3 cell neighborhood (a 9x map-side fan-out of the PROBE "
        "side only), hash-join on cell, then an exact-integer squared "
        "degree distance ((dlat/1e3)^2 + (dlon/1e3)^2, milli-degree "
        "units so the square fits int64) ranks candidates with a "
        "suppkey tiebreak. The device is what every spatial engine "
        "does under the name cell/geohash indexing: no all-pairs "
        "cross join ever exists — candidates per probe are bounded by "
        "neighborhood density, and probes whose neighborhood is empty "
        "simply return nothing (bounded search radius, the standard "
        "trade; widen the ring to escalate). Coordinates are derived "
        "deterministically from keys as the fixture stand-in for real "
        "lat/lon columns; a production variant adds a haversine "
        "DISPLAY column while ranking stays on the exact integer "
        "metric (planar ranking is order-correct at city scale and "
        "the ranking, not the metric, is what the join distributes). "
        "The 100 TB shape: both sides partial-aggregate nothing — "
        "they hash-partition by CELL, the join is local per cell, the "
        "per-probe top-1 window sees only neighborhood candidates, "
        "and skewed cells (cities) salt exactly like any hot hash "
        "key.",
)
def geo_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = _GEO_CELL_DEG * 1_000_000.0
    c_lat, c_lon = _synth_lat_lon("c_custkey", 7919, 104729)
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", c_lat.alias("lat"), c_lon.alias("lon"))
    )
    s_lat, s_lon = _synth_lat_lon("s_suppkey", 6151, 3571)
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", s_lat.alias("slat"), s_lon.alias("slon")
    )
    scell = supp.select(
        "s_suppkey",
        "slat",
        "slon",
        F.floor(F.col("slat") / cell).cast("bigint").alias("cx"),
        F.floor(F.col("slon") / cell).cast("bigint").alias("cy"),
    )
    ring = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    probe = cust.crossJoin(F.broadcast(ring)).select(
        "c_custkey",
        "lat",
        "lon",
        (F.floor(F.col("lat") / cell).cast("bigint") + F.col("dx")).alias("cx"),
        (F.floor(F.col("lon") / cell).cast("bigint") + F.col("dy")).alias("cy"),
    )
    dlat = (F.col("lat") - F.col("slat")) / 1000
    dlon = (F.col("lon") - F.col("slon")) / 1000
    cand = probe.join(scell, ["cx", "cy"]).select(
        "c_custkey",
        "s_suppkey",
        (dlat * dlat + dlon * dlon).cast("bigint").alias("dist2_milli"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2_milli", "s_suppkey")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("c_custkey", "s_suppkey", "dist2_milli")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------

_KS_G1 = "1-URGENT"
_KS_G2 = "5-LOW"
_KS_CRIT_MICRO2 = 1_844_164  # (1.358)^2 * 1e6, two-sided alpha=0.05, pinned


@register(
    "agg_ks_test",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CAST(count(*) FILTER (WHERE o_orderpriority = '{_KS_G1}')
                    AS BIGINT) AS d1,
               CAST(count(*) FILTER (WHERE o_orderpriority = '{_KS_G2}')
                    AS BIGINT) AS d2
        FROM orders
        WHERE o_orderpriority IN ('{_KS_G1}', '{_KS_G2}')
        GROUP BY 1
    ),
    cum AS (
        SELECT v,
               CAST(sum(d1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c1,
               CAST(sum(d2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c2
        FROM vals
    ),
    tot AS (
        SELECT CAST(sum(d1) AS BIGINT) AS n1, CAST(sum(d2) AS BIGINT) AS n2
        FROM vals
    ),
    dmax AS (
        SELECT CAST(max(abs(c1 * t.n2 - c2 * t.n1)) AS BIGINT) AS maxdiff
        FROM cum CROSS JOIN tot t
    )
    SELECT t.n1, t.n2, d.maxdiff,
           CAST(round(1000000.0 * d.maxdiff / (t.n1 * t.n2)) AS BIGINT)
               AS d_micro,
           (1000000.0 * CAST(d.maxdiff AS DOUBLE) * d.maxdiff
            > {_KS_CRIT_MICRO2}.0 * (t.n1 + t.n2) * t.n1 * t.n2)
               AS significant
    FROM dmax d CROSS JOIN tot t
    """,
    doc="Two-sample Kolmogorov-Smirnov test — the distribution-drift "
        f"detector: D = max |ECDF_{{{_KS_G1}}} - ECDF_{{{_KS_G2}}}| over "
        "order totals, computed as an EXACT integer maximum of "
        "|cum1*n2 - cum2*n1| over the merged cent-value domain (the "
        "cross-multiplied form of the ECDF difference), so the max is "
        "decided with zero float anywhere; the single division "
        "happens once for display. The significance flag compares "
        "maxdiff^2 against the pinned (1.358)^2 large-sample critical "
        "value via one deterministic double expression over exact "
        "integers. The 100 TB shape: one filtered scan partial-"
        "aggregates both groups' counts per value in the SAME pass "
        "(FILTER counts); both running sums EXECUTE as one operators/"
        "ranks.global_cumsum call — one range shuffle, partitioned "
        "windows, broadcast prefix offsets, no single-partition stage "
        "even though the value domain is near row cardinality — and "
        "the max reduces map-side; bucketing values (e.g. to dollars) "
        "shrinks the domain further at any scale with quantified D "
        "error <= bucket width x density.",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(_KS_G1, _KS_G2))
        .groupBy(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
        )
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == _KS_G1, 1).otherwise(0))
            .cast("bigint")
            .alias("d1"),
            F.sum(F.when(F.col("o_orderpriority") == _KS_G2, 1).otherwise(0))
            .cast("bigint")
            .alias("d2"),
        )
        .localCheckpoint()  # feeds the cumsum AND the totals
    )
    # Both ECDF running sums share one range shuffle + partitioned window
    # (operators/ranks.global_cumsum) — the value-domain frame is near
    # row cardinality (distinct cents), so the single-partition window
    # this replaced was the SCALING.md anti-pattern.
    cum = global_cumsum(
        vals, ["v"], ["d1", "d2"], out_col=["c1", "c2"]
    ).select("c1", "c2")
    tot = vals.agg(
        F.sum("d1").cast("bigint").alias("n1"),
        F.sum("d2").cast("bigint").alias("n2"),
    )
    dmax = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            )
            .cast("bigint")
            .alias("maxdiff")
        )
    )
    return dmax.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        "maxdiff",
        F.round(F.lit(1_000_000.0) * F.col("maxdiff") / (F.col("n1") * F.col("n2")))
        .cast("bigint")
        .alias("d_micro"),
        (
            F.lit(1_000_000.0) * F.col("maxdiff").cast("double") * F.col("maxdiff")
            > F.lit(float(_KS_CRIT_MICRO2))
            * (F.col("n1") + F.col("n2"))
            * F.col("n1")
            * F.col("n2")
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U
# ---------------------------------------------------------------------------


@register(
    "agg_mann_whitney",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CAST(count(*) FILTER (WHERE o_orderpriority = '{_KS_G1}')
                    AS BIGINT) AS d1,
               CAST(count(*) AS BIGINT) AS t
        FROM orders
        WHERE o_orderpriority IN ('{_KS_G1}', '{_KS_G2}')
        GROUP BY 1
    ),
    cum AS (
        SELECT v, d1, t,
               CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t
                    AS BIGINT) AS before_me
        FROM vals
    ),
    sums AS (
        SELECT CAST(sum(d1 * (2 * before_me + t + 1)) AS BIGINT) AS r1_x2,
               CAST(sum(d1) AS BIGINT) AS n1,
               CAST(sum(t - d1) AS BIGINT) AS n2,
               CAST(sum(t) AS BIGINT) AS n,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie_cubes
        FROM cum
    )
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(round(1000000.0
                * (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                   - CAST(n1 AS DOUBLE) * n2 / 2.0)
                / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                       * ((n + 1.0)
                          - CAST(tie_cubes AS DOUBLE) / (n * (n - 1.0)))))
               AS BIGINT) AS z_micro
    FROM sums
    """,
    doc="Mann-Whitney U (rank-sum) test between urgent and low order "
        "totals — the nonparametric location test that needs no "
        "distribution assumption: ranks over the merged cent domain "
        "with AVERAGE-RANK tie handling, kept exact by doubling (a "
        "tie block spanning ranks a..b contributes a+b per member = "
        "2*before + t + 1, an integer), so the rank sum R1 and "
        "U1 = R1 - n1(n1+1)/2 accumulate as exact bigints; the "
        "normal-approximation z includes the standard tie correction "
        "sum(t^3 - t) (also an exact integer) and is ONE closed-form "
        "double expression at the end. The 100 TB shape: identical to "
        "the KS plan — one filtered scan, per-value FILTER counts, "
        "one running sum over the value domain (executed as operators/"
        "ranks.global_cumsum: range shuffle + partitioned window + "
        "broadcast offsets, no single-partition stage), five "
        "algebraic accumulators.",
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(_KS_G1, _KS_G2))
        .groupBy(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
        )
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == _KS_G1, 1).otherwise(0))
            .cast("bigint")
            .alias("d1"),
            F.count("*").cast("bigint").alias("t"),
        )
    )
    # Running tie-group rank offset via the two-pass distributed cumsum
    # (operators/ranks) — same near-row-cardinality value domain as KS.
    cum = global_cumsum(vals, ["v"], "t", out_col="_ct").select(
        "d1",
        "t",
        (F.col("_ct") - F.col("t")).cast("bigint").alias("before_me"),
    )
    sums = cum.agg(
        F.sum(F.col("d1") * (2 * F.col("before_me") + F.col("t") + 1))
        .cast("bigint")
        .alias("r1_x2"),
        F.sum("d1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("d1")).cast("bigint").alias("n2"),
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_cubes"),
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    z = (
        u1_x2.cast("double") / 2.0
        - F.col("n1").cast("double") * F.col("n2") / 2.0
    ) / F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2")
        / 12.0
        * (
            (F.col("n") + 1.0)
            - F.col("tie_cubes").cast("double")
            / (F.col("n") * (F.col("n") - 1.0))
        )
    )
    return sums.select(
        "n1",
        "n2",
        u1_x2.cast("bigint").alias("u1_x2"),
        F.round(F.lit(1_000_000.0) * z).cast("bigint").alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# Trimmed mean
# ---------------------------------------------------------------------------

_TRIM_PCT_NUM = 5  # trim 5% of rows from EACH side (floor)
_TRIM_PCT_DEN = 100


@register(
    "agg_trimmed_mean",
    oracle=f"""
    WITH ranked AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY round(l_extendedprice * 100),
                                           l_orderkey, l_linenumber) AS rk,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT flag AS l_returnflag,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(round(1.0 * sum(cents) / count(*)) AS BIGINT)
               AS trimmed_mean_cents
    FROM ranked
    WHERE rk > n * {_TRIM_PCT_NUM} // {_TRIM_PCT_DEN}
      AND rk <= n - n * {_TRIM_PCT_NUM} // {_TRIM_PCT_DEN}
    GROUP BY flag
    ORDER BY l_returnflag
    """,
    doc=f"Trimmed mean ({_TRIM_PCT_NUM}% of ROWS floored from each "
        "side) of extended price per return flag — the robust "
        "location estimate that survives fat tails where the plain "
        "mean does not. Row selection is EXACTLY deterministic: rank "
        "by (cents, orderkey, linenumber) — a total order, so both "
        "engines keep the identical row set even through tied cents — "
        "and the trim bound k = floor(n*5/100) is integer arithmetic; "
        "kept cents sum exactly; the mean is one rounded division. "
        "The 100 TB shape: the rank window partitions by the group "
        "key (each group sorts independently); at extreme group "
        "sizes the same trim is expressible from the quantile-sketch "
        "family's exact-rank boundaries, trading one sort for the "
        "sketch's mergeable state — the window form here is the "
        "exact baseline the sketch is judged against.",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    wr = Window.partitionBy("flag").orderBy("cents", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("flag")
    ranked = li.select(
        "flag",
        "cents",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    k = F.floor(F.col("n") * _TRIM_PCT_NUM / _TRIM_PCT_DEN)
    return (
        ranked.filter((F.col("rk") > k) & (F.col("rk") <= F.col("n") - k))
        .groupBy("flag")
        .agg(
            F.max("n").cast("bigint").alias("n_total"),
            F.count("*").cast("bigint").alias("n_kept"),
            F.round(F.lit(1.0) * F.sum("cents") / F.count("*"))
            .cast("bigint")
            .alias("trimmed_mean_cents"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "n_total",
            "n_kept",
            "trimmed_mean_cents",
        )
        .orderBy("l_returnflag")
    )
