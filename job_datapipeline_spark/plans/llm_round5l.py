"""Round-5 twelfth batch: EWMA trend, Kaplan-Meier repeat-purchase
survival, exact-OLS trend lines, Benford first-digit audit, embedding
Gram matrix.

Five more named operators, each built on one of the repo's established
determinism devices (SCALE_GROWTH.md "reusable devices" note):

- EWMA smoothing of the daily event series per type: the recurrence
  s_t = 0.5*x_t + 0.5*s_{t-1} evaluated as a LEFT FOLD over the sorted
  day list on BOTH engines (Spark ``F.aggregate`` / DuckDB
  ``list_reduce``), so every intermediate IEEE operation matches
  bit-for-bit: *0.5 rescales the exponent exactly and the additions
  round identically in identical order. The per-day trajectory comes
  from folding each PREFIX of the (calendar-bounded) array — O(days^2)
  on a frame that never exceeds the calendar, not the corpus.
- Kaplan-Meier survival of the first->second purchase gap with a
  52-week censoring horizon: the product-limit estimator folded in
  EXACT integer micro-units, S_t = (S_{t-1} * (n_t - d_t)) // n_t,
  each step packed into one bigint (n*1e6 + d) so the fold is a pure
  bigint left fold both engines replay identically.
- Per-nation monthly revenue OLS trend: slope/intercept/R^2 from the
  five classic power sums kept as EXACT bigints (whole dollars x
  month index), combined by integer cross-multiplication; each
  reported figure is one final rounded IEEE division.
- Benford first-digit audit of order totals: digit from exact cents,
  expected probabilities PINNED as micro-unit literals that sum to
  exactly 1e6 (no engine-side log10), chi-square component per digit
  from exact integers in one deterministic expression.
- Embedding Gram matrix (upper triangle of the first 16 components):
  component values quantized to micro ints, pairwise products summed
  as EXACT bigints — the order-free formulation of the covariance
  accumulation every PCA/whitening pass needs, with the 100 TB
  overflow ceiling documented.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py has no trend, survival, audit, or linear-algebra pass).
Float discipline (plans/queries.py header): counts/cents/products are
exact bigints; folds are either exact-integer or bit-replayable IEEE;
each reported ratio is a single rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# EWMA daily trend
# ---------------------------------------------------------------------------

_EWMA_ALPHA_NUM = 1  # alpha = 1/2: *0.5 is an exact IEEE exponent shift,
_EWMA_ALPHA_DEN = 2  # so the fold is bit-replayable on any IEEE engine


@register(
    "events_ewma_daily",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    packed AS (
        SELECT event_type,
               list(struct_pack(day := day, n := n) ORDER BY day) AS l
        FROM daily GROUP BY 1
    ),
    expanded AS (
        SELECT event_type, l,
               unnest(generate_series(1, len(l))) AS t
        FROM packed
    )
    SELECT event_type,
           CAST(l[t].day AS VARCHAR) AS day,
           l[t].n AS n,
           CAST(round(1000000.0 * list_reduce(
                    list_transform(l[1:t], s -> CAST(s.n AS DOUBLE)),
                    (acc, x) -> 0.5 * x + 0.5 * acc)) AS BIGINT)
               AS ewma_micro
    FROM expanded
    ORDER BY event_type, day
    """,
    doc="EWMA (alpha=1/2) of the per-type daily event count — the "
        "exponential smoother every monitoring/trend pass runs first. "
        "The recurrence s_t = 0.5*x_t + 0.5*s_{t-1} is evaluated as a "
        "left fold over the day-sorted array (Spark F.aggregate, "
        "oracle list_reduce; init = first element on both), and the "
        "full trajectory comes from folding each prefix — O(days^2) "
        "float ops on a CALENDAR-bounded frame (a year is 365 "
        "elements), not a corpus-sized one. alpha=1/2 makes *0.5 an "
        "exact exponent shift, so both engines replay the identical "
        "IEEE sequence bit-for-bit; the only rounding is the final "
        "display division. The 100 TB shape: raw events partial-"
        "aggregate map-side onto the type x day frame; the collect_"
        "list/fold stage touches only that calendar-sized rollup, so "
        "the heavy data crosses one exchange as (type, day, count).",
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    packed = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("l")
    )
    expanded = packed.select(
        "event_type",
        "l",
        F.explode(F.sequence(F.lit(1), F.size("l"))).alias("t"),
    )
    prefix_vals = F.transform(
        F.slice(F.col("l"), F.lit(1), F.col("t")),
        lambda s: s["n"].cast("double"),
    )
    ewma = F.aggregate(
        prefix_vals,
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(0.5 * x + 0.5 * acc),
    )
    return expanded.select(
        "event_type",
        F.element_at("l", F.col("t"))["day"].cast("string").alias("day"),
        F.element_at("l", F.col("t"))["n"].alias("n"),
        F.round(F.lit(1_000_000.0) * ewma).cast("bigint").alias("ewma_micro"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Kaplan-Meier repeat-purchase survival
# ---------------------------------------------------------------------------

_KM_HORIZON_WEEKS = 52  # repeats later than a year are right-censored
_KM_PACK = 1_000_000  # step encoding n*PACK + d; requires n, d < PACK


@register(
    "orders_survival_km",
    oracle=f"""
    WITH ranked AS (
        SELECT o_custkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rk
        FROM orders
    ),
    cust AS (
        SELECT o_custkey,
               min(CASE WHEN rk = 1 THEN o_orderdate END) AS d1,
               min(CASE WHEN rk = 2 THEN o_orderdate END) AS d2
        FROM ranked WHERE rk <= 2 GROUP BY 1
    ),
    units AS (
        SELECT CASE WHEN d2 IS NOT NULL
                         AND date_diff('day', d1, d2) // 7
                             <= {_KM_HORIZON_WEEKS}
                    THEN date_diff('day', d1, d2) // 7
                    ELSE {_KM_HORIZON_WEEKS} END AS week,
               (d2 IS NOT NULL AND date_diff('day', d1, d2) // 7
                    <= {_KM_HORIZON_WEEKS}) AS is_event
        FROM cust
    ),
    weekly AS (
        SELECT CAST(week AS BIGINT) AS week,
               CAST(count(*) FILTER (WHERE is_event) AS BIGINT) AS d,
               CAST(count(*) FILTER (WHERE NOT is_event) AS BIGINT) AS c
        FROM units GROUP BY 1
    ),
    risk AS (
        SELECT week, d, c,
               CAST((SELECT count(*) FROM units)
                    - (sum(d + c) OVER (ORDER BY week
                                        ROWS UNBOUNDED PRECEDING)
                       - (d + c)) AS BIGINT) AS n_at_risk
        FROM weekly
    ),
    packed AS (
        SELECT list(struct_pack(
                   week := week,
                   nd := n_at_risk * {_KM_PACK} + d) ORDER BY week) AS l
        FROM risk
    ),
    expanded AS (
        SELECT l, unnest(generate_series(1, len(l))) AS t FROM packed
    )
    SELECT r.week, r.d AS n_events, r.c AS n_censored, r.n_at_risk,
           list_reduce(
               list_prepend(CAST({_KM_PACK} AS BIGINT),
                            list_transform(e.l[1:e.t], s -> s.nd)),
               (acc, x) -> (acc * ((x // {_KM_PACK}) - (x % {_KM_PACK})))
                           // (x // {_KM_PACK})) AS surv_micro
    FROM expanded e JOIN risk r ON r.week = e.l[e.t].week
    ORDER BY r.week
    """,
    doc="Kaplan-Meier product-limit survival of the first->second "
        f"purchase gap (weeks, {_KM_HORIZON_WEEKS}-week censoring "
        "horizon; customers whose repeat falls beyond it are right-"
        "censored at the horizon, the standard events-before-censors "
        "tie convention). The estimator S_t = prod(1 - d_i/n_i) is "
        "folded in EXACT integer micro-units — S_t = (S_t-1 * (n_t - "
        "d_t)) // n_t, each step packed into ONE bigint n*1e6+d so "
        "the fold (Spark F.aggregate / oracle list_reduce with a "
        "prepended 1e6 init) is pure bigint arithmetic both engines "
        "replay identically; max intermediate 1e6*1e6 = 1e12 also "
        "sits inside the 2^53 window Spark's floor(a/b) uses. "
        "Truncation loses <1 micro per step, deterministically. The "
        "100 TB shape: one window over orders yields first/second "
        "dates, units partial-aggregate to the 53-row week frame, and "
        "the rest is ONE linear plan over that frame with no "
        "checkpoint: the total is an unpartitioned window sum over "
        "the 53 rows, n_at_risk a running window sum, and each step's "
        "survival an F.aggregate over a running-window collect_list "
        "(ROWS UNBOUNDED PRECEDING, ordered by the unique week, so "
        "every prefix is deterministic); the n<1e6 packing ceiling "
        "is per-COHORT at-risk count — shard the curve by cohort "
        "(signup month) long before 1e6, as every retention system "
        "does anyway.",
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 2)
    cust = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rk") == 1, F.col("o_orderdate"))).alias("d1"),
        F.min(F.when(F.col("rk") == 2, F.col("o_orderdate"))).alias("d2"),
    )
    gap_w = F.floor(F.datediff(F.col("d2"), F.col("d1")) / 7)
    is_event = F.col("d2").isNotNull() & (gap_w <= _KM_HORIZON_WEEKS)
    units = cust.select(
        F.when(is_event, gap_w)
        .otherwise(F.lit(_KM_HORIZON_WEEKS))
        .cast("bigint")
        .alias("week"),
        is_event.alias("is_event"),
    )
    weekly = units.groupBy("week").agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when(F.col("is_event"), 0).otherwise(1))
        .cast("bigint")
        .alias("c"),
    )
    # The windows below see only the 53 week rows; week is unique, so each
    # running collect_list prefix is in week order and deterministic.
    exits = F.col("d") + F.col("c")
    everything = Window.partitionBy()
    cum = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = weekly.select(
        "week",
        "d",
        "c",
        (F.sum(exits).over(everything) - (F.sum(exits).over(cum) - exits))
        .cast("bigint")
        .alias("n_at_risk"),
    )
    pack_lit = F.lit(_KM_PACK).cast("long")
    surv = F.aggregate(
        F.collect_list(F.col("n_at_risk") * _KM_PACK + F.col("d")).over(cum),
        pack_lit,
        lambda acc, x: F.floor(
            (acc * (F.floor(x / pack_lit) - F.pmod(x, pack_lit)))
            / F.floor(x / pack_lit)
        ).cast("long"),
    )
    return risk.select(
        "week",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        "n_at_risk",
        surv.alias("surv_micro"),
    ).orderBy("week")


# ---------------------------------------------------------------------------
# Per-nation OLS revenue trend
# ---------------------------------------------------------------------------


@register(
    "orders_trend_ols",
    oracle="""
    WITH monthly AS (
        SELECT n.n_name AS nation,
               CAST((year(o.o_orderdate) - 1995) * 12
                    + (month(o.o_orderdate) - 1) AS BIGINT) AS x,
               CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    sums AS (
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM monthly GROUP BY 1
    )
    SELECT nation, n,
           CAST(round(1000000.0 * (n * sxy - sx * sy)
                      / (n * sxx - sx * sx)) AS BIGINT) AS slope_micro,
           CAST(round(1000000.0
                      * (CAST(sy AS DOUBLE) * (n * sxx - sx * sx)
                         - CAST(n * sxy - sx * sy AS DOUBLE) * sx)
                      / (CAST(n AS DOUBLE) * (n * sxx - sx * sx)))
                AS BIGINT) AS intercept_micro,
           CAST(round(1000000.0
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)))
                AS BIGINT) AS r2_micro
    FROM sums ORDER BY nation
    """,
    doc="Per-nation monthly revenue OLS trend line: slope (whole "
        "dollars/month), intercept, and R^2 from the five classic "
        "power sums n, Sx, Sy, Sxy, Sxx, Syy — every sum an EXACT "
        "bigint (x = month index since 1995-01, y = WHOLE dollars so "
        "Syy stays inside int64 through ~sf1; escalate y to "
        "decimal(38) beyond), every numerator/denominator an integer "
        "cross-product (n*Sxy - Sx*Sy etc.), and each reported figure "
        "ONE rounded IEEE division — the closed-form regression that "
        "needs no iteration and no float accumulation. The intercept "
        "numerator subtracts two ~1e15 products; both sit under 2^53 "
        "so the double subtraction is still exact. The 100 TB shape: "
        "facts partial-aggregate map-side to the nation x month frame "
        "(calendar-bounded), dims broadcast, and the power sums are "
        "algebraic (single-pass, mergeable) — the same five "
        "accumulators stream through any partitioning.",
)
def orders_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
            )
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    sums = monthly.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    syy_c = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        "nation",
        "n",
        F.round(F.lit(1_000_000.0) * num / den).cast("bigint").alias("slope_micro"),
        F.round(
            F.lit(1_000_000.0)
            * (
                F.col("sy").cast("double") * den
                - num.cast("double") * F.col("sx")
            )
            / (F.col("n").cast("double") * den)
        )
        .cast("bigint")
        .alias("intercept_micro"),
        F.round(
            F.lit(1_000_000.0)
            * num.cast("double")
            * num.cast("double")
            / (den.cast("double") * syy_c.cast("double"))
        )
        .cast("bigint")
        .alias("r2_micro"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in micro-units, pinned as literals (no engine-side log10,
# no libm ulp risk); the nine values sum to exactly 1_000_000.
_BENFORD_MICRO = {
    1: 301_030,
    2: 176_091,
    3: 124_939,
    4: 96_910,
    5: 79_181,
    6: 66_947,
    7: 57_992,
    8: 51_153,
    9: 45_757,
}
assert sum(_BENFORD_MICRO.values()) == 1_000_000

_BENFORD_VALUES_SQL = ", ".join(f"({d}, {p})" for d, p in _BENFORD_MICRO.items())


@register(
    "agg_benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
    ),
    obs AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        FROM digits GROUP BY 1
    ),
    expected(digit, p_micro) AS (VALUES {_BENFORD_VALUES_SQL}),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
    SELECT CAST(e.digit AS BIGINT) AS digit,
           coalesce(o.n_obs, 0) AS n_obs,
           CAST(t.n * e.p_micro AS BIGINT) AS expected_micro,
           CAST(round(1000000.0
                      * (1000000.0 * coalesce(o.n_obs, 0)
                         - CAST(t.n * e.p_micro AS DOUBLE))
                      * (1000000.0 * coalesce(o.n_obs, 0)
                         - CAST(t.n * e.p_micro AS DOUBLE))
                      / (1000000.0 * t.n * e.p_micro)) AS BIGINT)
               AS chi2_component_micro
    FROM expected e
    LEFT JOIN obs o ON o.digit = e.digit
    CROSS JOIN tot t
    ORDER BY digit
    """,
    doc="Benford first-digit audit of order totals — the classic "
        "fraud/synthetic-data screen: the leading significant digit "
        "of every amount (taken from EXACT cents, no float log) "
        "against the Benford expectation, with the per-digit "
        "chi-square component. The expected probabilities log10(1+1/d) "
        "are PINNED micro-unit literals summing to exactly 1e6, so "
        "neither engine calls log10 and no libm ulp can split them; "
        "expected counts n*p are exact bigints; the chi-square "
        "component (obs-exp)^2/exp is one deterministic double "
        "expression over those exact integers. The 100 TB shape: the "
        "digit extraction is map-side, the aggregate partial-combines "
        "onto a NINE-row frame, the expectation table is a 9-row "
        "broadcast — the whole audit costs one scan regardless of "
        "data size.",
)
def agg_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark_expected = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_MICRO.items()], "digit bigint, p_micro bigint"
    )
    digits = table(spark, sf_dir, "orders").select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    # 9-row frame; checkpointed because the expectation join AND the
    # total both consume it (orders is scanned exactly once)
    obs = (
        digits.groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
        .localCheckpoint()
    )
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    diff = F.lit(1_000_000.0) * F.coalesce(F.col("n_obs"), F.lit(0)) - (
        F.col("n") * F.col("p_micro")
    ).cast("double")
    return (
        F.broadcast(spark_expected)
        .join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            (F.col("n") * F.col("p_micro")).cast("bigint").alias("expected_micro"),
            F.round(
                F.lit(1_000_000.0)
                * diff
                * diff
                / (F.lit(1_000_000.0) * F.col("n") * F.col("p_micro"))
            )
            .cast("bigint")
            .alias("chi2_component_micro"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Embedding Gram matrix
# ---------------------------------------------------------------------------

_GRAM_DIMS = 16  # upper triangle of the first 16 components: 136 cells


@register(
    "embedding_gram_matrix",
    oracle=f"""
    WITH q AS (
        SELECT list_transform(embedding[1:{_GRAM_DIMS}],
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS qv
        FROM embeddings
    ),
    idx AS (
        SELECT i.i AS i, j.j AS j
        FROM generate_series(1, {_GRAM_DIMS}) i(i),
             generate_series(1, {_GRAM_DIMS}) j(j)
        WHERE i.i <= j.j
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(sum(qv[i] * qv[j]) AS BIGINT) AS gram_micro2,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM q CROSS JOIN idx
    GROUP BY i, j ORDER BY i, j
    """,
    doc=f"Embedding Gram matrix — the upper triangle (i<=j) of "
        f"sum(x_i * x_j) over the first {_GRAM_DIMS} components: the "
        "second-moment accumulation every PCA / whitening / linear-"
        "probe pass needs before any eigen step (the d x d eigensolve "
        "itself is a driver-side O(d^3) on a matrix this query has "
        "already shrunk to kilobytes). Components quantize to micro "
        "ints FIRST (float->double is exact, one deterministic round), "
        "so the products and their sums are EXACT bigints — the "
        "order-free formulation that makes the accumulation partition-"
        "invariant, where a double dot-product sum would drift with "
        "shuffle order. Ceiling: |x|<=0.5 -> products <=2.5e11, int64 "
        "holds ~3.7e7 vectors per cell; beyond that, decimal(38) "
        "accumulators or per-shard partial Grams merged exactly. The "
        "100 TB shape: each vector expands to the 136-cell index frame "
        "via a BROADCAST nested loop (no shuffle of the fact side), "
        "partial aggregation collapses everything map-side onto 136 "
        "keys, and one tiny exchange finishes — the same plan at any "
        "scale.",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            F.slice("embedding", 1, _GRAM_DIMS),
            lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
        ).alias("qv")
    )
    idx = (
        spark.range(1, _GRAM_DIMS + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(1, _GRAM_DIMS + 1).select(F.col("id").alias("j")))
        .filter(F.col("i") <= F.col("j"))
    )
    return (
        q.crossJoin(F.broadcast(idx))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.element_at("qv", F.col("i").cast("int"))
                * F.element_at("qv", F.col("j").cast("int"))
            )
            .cast("bigint")
            .alias("gram_micro2"),
            F.count("*").cast("bigint").alias("n_vecs"),
        )
        .orderBy("i", "j")
    )
