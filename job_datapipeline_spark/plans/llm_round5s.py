"""Round-5 nineteenth batch: item-item collaborative filtering,
ABC-XYZ inventory matrix, seasonally-adjusted anomalies.

Three more named operators:

- Item-item collaborative filtering — the classic "customers who
  bought X also bought Y" batch job: co-purchase candidate pairs
  through the CUSTOMER inverted index (pairs exist only where a
  customer bought both), Jaccard overlap of the exact customer sets
  by inclusion-exclusion, top-3 neighbors per part. The two scale
  devices are the ones production CF uses: a HOT-CUSTOMER CAP
  (customers with > K distinct parts are dropped as uninformative —
  they generate the quadratic fan-out and carry no signal) and
  integer-deterministic ranking (micro Jaccard, part-key tiebreak).
- ABC-XYZ inventory matrix: the planning classification crossing
  revenue share (ABC, cumulative 80/95% fences) with demand
  volatility (XYZ by coefficient of variation over monthly demand).
  The CV class fences are decided by INTEGER cross-multiplication of
  power sums (cv < t <=> t_den^2 * n * (n*SS - S^2) <
  t_num^2 * (n-1) * S^2) — no division, no sqrt, anywhere near a
  decision.
- Seasonally-adjusted revenue anomalies: deseasonalize daily revenue
  by the calendar-month index (the orders_seasonality_index device),
  then flag days whose residual deviates from the median by more
  than k times the MAD — the robust outlier rule that survives the
  fat tails z-scores drown in. Medians/MADs are exact rank picks
  over integer residuals.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): set sizes,
power sums, residuals and fences are exact bigints; each reported
ratio is one rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import global_cumsum, int_div
from .registry import register

# ---------------------------------------------------------------------------
# Item-item collaborative filtering
# ---------------------------------------------------------------------------

_CF_HOT_CAP = 50  # customers with more distinct parts are dropped
_CF_SAMPLE_MOD = 10  # deterministic 1-in-10 customer sample for pair gen
_CF_TOPK = 3


@register(
    "recsys_item_item_cf",
    oracle=f"""
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey % {_CF_SAMPLE_MOD} = 0
    ),
    informative AS (
        SELECT ck FROM (SELECT ck, count(*) AS n FROM cp GROUP BY ck)
        WHERE n <= {_CF_HOT_CAP}
    ),
    cpi AS (
        SELECT ck, pk FROM cp WHERE ck IN (SELECT ck FROM informative)
    ),
    sizes AS (
        SELECT pk, CAST(count(*) AS BIGINT) AS n_cust FROM cpi GROUP BY pk
    ),
    inter AS (
        SELECT a.pk AS part_a, b.pk AS part_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM cpi a JOIN cpi b ON a.ck = b.ck AND a.pk <> b.pk
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.part_a, i.part_b, i.n_both,
               CAST(round(1000000.0 * i.n_both
                          / (sa.n_cust + sb.n_cust - i.n_both)) AS BIGINT)
                   AS jaccard_micro
        FROM inter i
        JOIN sizes sa ON sa.pk = i.part_a
        JOIN sizes sb ON sb.pk = i.part_b
    )
    SELECT part_a, part_b, n_both, jaccard_micro, rank FROM (
        SELECT part_a, part_b, n_both, jaccard_micro,
               row_number() OVER (PARTITION BY part_a
                                  ORDER BY jaccard_micro DESC, part_b)
                   AS rank
        FROM scored) x
    WHERE rank <= {_CF_TOPK}
    ORDER BY part_a, rank
    """,
    doc=f"Item-item collaborative filtering (top-{_CF_TOPK} neighbors "
        "per part by co-purchase Jaccard) — the 'customers who bought "
        "X also bought Y' batch job. Candidate pairs exist only "
        "through the CUSTOMER inverted index (a self-join of the "
        "deduped (customer, part) frame on customer), so the pair "
        "space is sum over customers of parts^2 — bounded by TWO "
        f"production-CF devices: a HOT-CUSTOMER CAP (> {_CF_HOT_CAP} "
        "distinct parts -> dropped as uninformative; hot customers "
        "generate the quadratic fan-out AND carry near-zero signal) "
        f"and a deterministic 1-in-{_CF_SAMPLE_MOD} customer sample "
        "(co-occurrence Jaccard over a uniform customer sample is an "
        "unbiased estimator that converges fast — production CF "
        "subsamples interactions for exactly this cost reason; "
        "measured here: the unsampled pair shuffle was 25 s at sf0.1, "
        "5x over the bench's heavy-query band). Union "
        "sizes come from inclusion-exclusion (never a second pass); "
        "Jaccard quantizes to micro BEFORE the rank window, part_b "
        "breaks ties. The 100 TB shape: the pair join hash-partitions "
        "by customer, the (a,b) aggregate partial-combines map-side, "
        "and the per-part top-k window sees only surviving candidate "
        "pairs — the same plan Amazon ran on its original item-item "
        "paper's scale.",
)
def recsys_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(
            o.filter(F.col("o_custkey") % _CF_SAMPLE_MOD == 0),
            li.l_orderkey == o.o_orderkey,
        )
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    informative = (
        cp.groupBy("ck")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= _CF_HOT_CAP)
        .select("ck")
    )
    cpi = cp.join(informative, "ck", "semi").localCheckpoint()
    sizes = cpi.groupBy("pk").agg(F.count("*").cast("bigint").alias("n_cust"))
    a = cpi.select("ck", F.col("pk").alias("part_a"))
    b = cpi.select("ck", F.col("pk").alias("part_b"))
    inter = (
        a.join(b, "ck")
        .filter(F.col("part_a") != F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = sizes.select(F.col("pk").alias("part_a"), F.col("n_cust").alias("na"))
    sb = sizes.select(F.col("pk").alias("part_b"), F.col("n_cust").alias("nb"))
    scored = (
        inter.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(
                F.lit(1_000_000.0)
                * F.col("n_both")
                / (F.col("na") + F.col("nb") - F.col("n_both"))
            )
            .cast("bigint")
            .alias("jaccard_micro"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.col("jaccard_micro").desc(), F.col("part_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CF_TOPK)
        .select("part_a", "part_b", "n_both", "jaccard_micro", "rank")
        .orderBy("part_a", "rank")
    )


# ---------------------------------------------------------------------------
# ABC-XYZ matrix
# ---------------------------------------------------------------------------

# XYZ fences on the coefficient of variation, as exact rationals
_XYZ_X_NUM, _XYZ_X_DEN = 1, 2  # cv < 0.5 -> X
_XYZ_Y_NUM, _XYZ_Y_DEN = 1, 1  # cv < 1.0 -> Y, else Z


@register(
    "orders_abc_xyz_matrix",
    oracle=f"""
    WITH monthly AS (
        SELECT l.l_partkey AS pk,
               (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1
                   AS m,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS q
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    part_stats AS (
        SELECT pk,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q * q) AS BIGINT) AS ss
        FROM monthly GROUP BY pk
    ),
    revenue AS (
        SELECT l_partkey AS pk,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1
    ),
    abc AS (
        SELECT pk, cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, pk
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
               CAST(sum(cents) OVER () AS BIGINT) AS tot
        FROM revenue
    ),
    classed AS (
        SELECT a.pk,
               CASE WHEN 100 * a.cum <= 80 * a.tot THEN 'A'
                    WHEN 100 * a.cum <= 95 * a.tot THEN 'B'
                    ELSE 'C' END AS abc_class,
               CASE
                   WHEN p.n <= 1 THEN 'Z'
                   WHEN {_XYZ_X_DEN * _XYZ_X_DEN} * p.n
                        * (p.n * p.ss - p.s * p.s)
                        < {_XYZ_X_NUM * _XYZ_X_NUM} * (p.n - 1)
                          * p.s * p.s THEN 'X'
                   WHEN {_XYZ_Y_DEN * _XYZ_Y_DEN} * p.n
                        * (p.n * p.ss - p.s * p.s)
                        < {_XYZ_Y_NUM * _XYZ_Y_NUM} * (p.n - 1)
                          * p.s * p.s THEN 'Y'
                   ELSE 'Z' END AS xyz_class
        FROM abc a JOIN part_stats p ON p.pk = a.pk
    )
    SELECT abc_class, xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM classed
    GROUP BY 1, 2 ORDER BY abc_class, xyz_class
    """,
    doc="ABC-XYZ inventory matrix — the planning classification every "
        "supply chain runs: ABC by cumulative revenue share (80/95% "
        "fences over parts ranked by revenue, integer cross-"
        "multiplied: 100*cum <= 80*total), crossed with XYZ by demand "
        "volatility (coefficient of variation over monthly demand; "
        "cv < 1/2 -> X, < 1 -> Y, else Z). The CV fences are decided "
        "by PURE INTEGER cross-multiplication of power sums — "
        "den^2 * n * (n*SS - S^2) < num^2 * (n-1) * S^2 — no "
        "division, no sqrt, no float near any class boundary; "
        "single-month parts pin to Z (undefined volatility = "
        "unplannable, the standard convention). The 100 TB shape: "
        "monthly demand partial-aggregates onto the part x month "
        "frame, part stats are algebraic accumulators, the ABC "
        "running share EXECUTES as operators/ranks.global_cumsum over "
        "the PART dimension (range partition + partitioned running "
        "sums + broadcast prefix offsets — no single-partition "
        "window), and the output is a 9-cell matrix at any scale.",
)
def orders_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    monthly = (
        li.select("l_orderkey", "l_partkey", "l_quantity")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("pk"),
            (
                (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
            ).alias("m"),
        )
        .agg(
            F.sum(F.round("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q")
        )
    )
    part_stats = monthly.groupBy("pk").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("ss"),
    )
    revenue = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = global_cumsum(
        revenue, [F.col("cents").desc(), "pk"], "cents", out_col="cum"
    ).localCheckpoint()  # part-dim frame, read by the total AND the join
    # total = the last running sum; aggregating the checkpoint-backed
    # cumsum frame avoids a second scan of the lineitem rollup
    tot = ranked.agg(F.max("cum").cast("bigint").alias("tot"))
    abc = ranked.crossJoin(F.broadcast(tot)).select("pk", "cum", "tot")
    var_num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    s2 = F.col("s") * F.col("s")
    xyz = (
        F.when(F.col("n") <= 1, "Z")
        .when(
            _XYZ_X_DEN * _XYZ_X_DEN * F.col("n") * var_num
            < _XYZ_X_NUM * _XYZ_X_NUM * (F.col("n") - 1) * s2,
            "X",
        )
        .when(
            _XYZ_Y_DEN * _XYZ_Y_DEN * F.col("n") * var_num
            < _XYZ_Y_NUM * _XYZ_Y_NUM * (F.col("n") - 1) * s2,
            "Y",
        )
        .otherwise("Z")
    )
    abc_cls = (
        F.when(100 * F.col("cum") <= 80 * F.col("tot"), "A")
        .when(100 * F.col("cum") <= 95 * F.col("tot"), "B")
        .otherwise("C")
    )
    classed = abc.join(part_stats, "pk").select(
        abc_cls.alias("abc_class"), xyz.alias("xyz_class")
    )
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .orderBy("abc_class", "xyz_class")
    )


# ---------------------------------------------------------------------------
# Seasonally-adjusted anomalies
# ---------------------------------------------------------------------------

_ANOM_K = 3  # flag |residual - median| > K * MAD


@register(
    "orders_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    monthly AS (
        SELECT month(day) AS cal_month,
               CAST(sum(cents) AS BIGINT) AS s_m,
               count(*) AS d_m
        FROM daily GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(s_m) AS BIGINT) AS s_all,
               CAST(sum(d_m) AS BIGINT) AS d_all
        FROM monthly
    ),
    idx AS (
        SELECT m.cal_month,
               CAST(round(1000000.0 * (m.s_m * t.d_all)
                          / (m.d_m * t.s_all)) AS BIGINT) AS index_micro
        FROM monthly m CROSS JOIN tot t
    ),
    resid AS (
        SELECT d.day, d.cents, i.index_micro,
               CAST(round(1000000.0 * d.cents / i.index_micro) AS BIGINT)
                   AS resid_cents
        FROM daily d JOIN idx i ON i.cal_month = month(d.day)
    ),
    med AS (
        SELECT CAST(max(CASE WHEN rk = (n + 1) // 2 THEN resid_cents END)
                    AS BIGINT) AS med_resid
        FROM (SELECT resid_cents,
                     row_number() OVER (ORDER BY resid_cents, day) AS rk,
                     count(*) OVER () AS n
              FROM resid) x
    ),
    mad AS (
        SELECT CAST(max(CASE WHEN rk = (n + 1) // 2 THEN dev END) AS BIGINT)
                   AS mad_resid
        FROM (SELECT abs(r.resid_cents - m.med_resid) AS dev,
                     row_number() OVER (ORDER BY abs(r.resid_cents
                                                     - m.med_resid),
                                        r.day) AS rk,
                     count(*) OVER () AS n
              FROM resid r CROSS JOIN med m) x
    )
    SELECT CAST(r.day AS VARCHAR) AS day, r.cents, r.index_micro,
           r.resid_cents,
           CAST(abs(r.resid_cents - m.med_resid) AS BIGINT) AS deviation
    FROM resid r CROSS JOIN med m CROSS JOIN mad d
    WHERE abs(r.resid_cents - m.med_resid) > {_ANOM_K} * d.mad_resid
    ORDER BY day
    """,
    doc="Seasonally-adjusted revenue anomalies: deseasonalize each "
        "day's revenue by its calendar-month index (the "
        "orders_seasonality_index device — exact bigint cross-"
        "products, one rounded division per month), then flag days "
        f"whose residual deviates from the MEDIAN by more than "
        f"{_ANOM_K}x the MAD — the robust rule that still works when "
        "the z-score's mean/std are themselves dragged by the "
        "anomalies it should find. Median and MAD are exact LOWER-"
        "median rank picks ((n+1)//2, day tiebreak) over integer "
        "residuals; the flag compares exact integers (K*MAD never "
        "divides). The 100 TB shape: the fact collapses map-side to "
        "the calendar-day frame; every window after that sorts a "
        "frame bounded by the CALENDAR (a decade is ~3,653 rows), so "
        "the anomaly pass costs one scan plus domain-frame work at "
        "any data size.",
)
def orders_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()  # feeds the index build AND the residual join
    )
    monthly = (
        daily.groupBy(F.month("day").alias("cal_month"))
        .agg(
            F.sum("cents").cast("bigint").alias("s_m"),
            F.count("*").alias("d_m"),
        )
        .localCheckpoint()
    )
    tot = monthly.agg(
        F.sum("s_m").cast("bigint").alias("s_all"),
        F.sum("d_m").cast("bigint").alias("d_all"),
    )
    idx = monthly.crossJoin(F.broadcast(tot)).select(
        "cal_month",
        F.round(
            F.lit(1_000_000.0)
            * (F.col("s_m") * F.col("d_all"))
            / (F.col("d_m") * F.col("s_all"))
        )
        .cast("bigint")
        .alias("index_micro"),
    )
    resid = (
        daily.join(F.broadcast(idx), F.month("day") == idx.cal_month)
        .select(
            "day",
            "cents",
            "index_micro",
            F.round(F.lit(1_000_000.0) * F.col("cents") / F.col("index_micro"))
            .cast("bigint")
            .alias("resid_cents"),
        )
        .localCheckpoint()  # consumed by median, MAD, and the final filter
    )
    wr = Window.orderBy("resid_cents", "day")
    wn = Window.partitionBy()
    med = (
        resid.select(
            "resid_cents",
            F.row_number().over(wr).alias("rk"),
            F.count("*").over(wn).alias("n"),
        )
        .agg(
            F.max(
                F.when(
                    F.col("rk") == int_div(F.col("n") + 1, 2),
                    F.col("resid_cents"),
                )
            )
            .cast("bigint")
            .alias("med_resid")
        )
    )
    with_med = resid.crossJoin(F.broadcast(med))
    wd = Window.orderBy(F.abs(F.col("resid_cents") - F.col("med_resid")), "day")
    mad = (
        with_med.select(
            F.abs(F.col("resid_cents") - F.col("med_resid")).alias("dev"),
            F.row_number().over(wd).alias("rk"),
            F.count("*").over(wn).alias("n"),
        )
        .agg(
            F.max(
                F.when(F.col("rk") == int_div(F.col("n") + 1, 2), F.col("dev"))
            )
            .cast("bigint")
            .alias("mad_resid")
        )
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .filter(
            F.abs(F.col("resid_cents") - F.col("med_resid"))
            > _ANOM_K * F.col("mad_resid")
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "cents",
            "index_micro",
            "resid_cents",
            F.abs(F.col("resid_cents") - F.col("med_resid"))
            .cast("bigint")
            .alias("deviation"),
        )
        .orderBy("day")
    )
