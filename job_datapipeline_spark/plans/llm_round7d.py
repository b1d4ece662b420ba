"""Round-7 fourth batch: Markov removal-effect attribution.

The data-driven attribution model (Anderl et al. 2014) that
events_attribution_models' first/last-touch heuristics approximate:
journeys become a first-order Markov chain over channel states with
START and absorbing CONV/NULL states, and a channel's credit is its
REMOVAL EFFECT — how much the chain's conversion probability drops when
every hop into that channel is redirected to NULL.

Absorption is computed by K unrolled power-iteration steps over the
(states x states) transition table — a frame bounded by the CHANNEL
DOMAIN squared (here 7x7), never by events — and, critically for the
oracle hash-match, the whole chain runs in INTEGER micro-unit
arithmetic: probabilities are floor-divided micro fractions and each
step's mass update is a per-edge (mass * p) div 1e6 before the sum, so
the arithmetic is order-independent and bit-identical in any engine (a
double-precision chain would hash-mismatch on Spark's nondeterministic
float aggregation order).  K=8 truncation is pinned in both engines;
self-loops on the absorbing states mean step K's CONV row IS the
absorbed mass.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline: ZERO floats — every probability, mass and
effect is integer micro-units with explicit floor division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import int_div
from .registry import register

_MK_STEPS = 8
_MK_CHANNELS = ("click", "error", "signup", "view")  # purchase -> conv
_MK_M = 1_000_000


def _mk_oracle() -> str:
    """Unrolled-CTE DuckDB mirror: same journeys, same integer chain."""
    scen_sql = []
    for r in ("none", *_MK_CHANNELS):
        if r == "none":
            tr = f"""tr_{r} AS (
        SELECT src, dst, p FROM probs
        UNION ALL SELECT 'conv', 'conv', {_MK_M}
        UNION ALL SELECT 'null', 'null', {_MK_M})"""
        else:
            tr = f"""tr_{r} AS (
        SELECT src, CASE WHEN dst = '{r}' THEN 'null' ELSE dst END AS dst,
               CAST(sum(p) AS BIGINT) AS p
        FROM probs WHERE src <> '{r}' GROUP BY 1, 2
        UNION ALL SELECT 'conv', 'conv', {_MK_M}
        UNION ALL SELECT 'null', 'null', {_MK_M})"""
        steps = [f"v0_{r} AS (SELECT 'start' AS s, CAST({_MK_M} AS BIGINT) AS mass)"]
        for k in range(1, _MK_STEPS + 1):
            steps.append(
                f"""v{k}_{r} AS (
        SELECT t.dst AS s,
               CAST(sum((v.mass * t.p) // {_MK_M}) AS BIGINT) AS mass
        FROM v{k - 1}_{r} v JOIN tr_{r} t ON t.src = v.s GROUP BY t.dst)"""
            )
        scen_sql.append(",\n    ".join([tr, *steps]))
    finals = ",\n    ".join(
        f"c_{r} AS (SELECT coalesce((SELECT mass FROM v{_MK_STEPS}_{r} "
        f"WHERE s = 'conv'), 0) AS conv)"
        for r in ("none", *_MK_CHANNELS)
    )
    rows = "\n        UNION ALL ".join(
        f"SELECT '{r}' AS removed_channel, (SELECT conv FROM c_{r}) AS conv_micro"
        for r in ("none", *_MK_CHANNELS)
    )
    scenarios = ",\n    ".join(scen_sql)
    return f"""
    WITH keyed AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN 'conv'
                    ELSE event_type END AS state,
               event_type = 'purchase' AS is_conv
        FROM events
    ),
    fp AS (
        SELECT user_id, ts AS cut_ts, event_id AS cut_id FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM keyed WHERE is_conv) WHERE rn = 1
    ),
    j AS (
        SELECT k.user_id, k.ts, k.event_id, k.state
        FROM keyed k LEFT JOIN fp ON fp.user_id = k.user_id
        WHERE fp.cut_ts IS NULL
           OR (k.ts, k.event_id) <= (fp.cut_ts, fp.cut_id)
    ),
    seq AS (
        SELECT user_id, state,
               lag(state) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rdesc
        FROM j
    ),
    edges AS (
        SELECT coalesce(prev, 'start') AS src, state AS dst FROM seq
        UNION ALL
        SELECT state, 'null' FROM seq WHERE rdesc = 1 AND state <> 'conv'
    ),
    cnt AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS n
        FROM edges GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS total FROM cnt GROUP BY src),
    probs AS (
        SELECT c.src, c.dst,
               CAST((c.n * {_MK_M}) // t.total AS BIGINT) AS p
        FROM cnt c JOIN tot t ON t.src = c.src
    ),
    {scenarios},
    {finals},
    scen AS (
        {rows}
    )
    SELECT s.removed_channel, s.conv_micro,
           CASE WHEN s.removed_channel = 'none' THEN 0
                ELSE ((SELECT conv FROM c_none) - s.conv_micro) * {_MK_M}
                     // (SELECT conv FROM c_none) END AS removal_effect_micro
    FROM scen s
    ORDER BY removed_channel
    """


@register(
    "events_markov_attribution",
    oracle=_mk_oracle(),
    doc="Markov removal-effect attribution (the data-driven model first/"
        "last-touch approximates): user journeys truncated at first "
        "purchase become a first-order chain over channel states with "
        "START and absorbing CONV/NULL; each channel's credit is how "
        "much K=8-step absorbed conversion mass drops when hops into it "
        "are redirected to NULL (no renormalization — the standard "
        "removal semantics). The 100 TB shape: ONE pass over the event "
        "log builds the edge counts (per-user window + partial-agg "
        "rollup to the CHANNEL-DOMAIN-squared transition frame, here "
        "7x7), and all five scenario chains run as unrolled tiny-frame "
        "joins that never touch raw events again. The entire chain is "
        "INTEGER micro-unit arithmetic (floor-divided probabilities, "
        "per-edge (mass*p) div 1e6 before each sum) — order-independent "
        "and bit-identical across engines, where a double-precision "
        "chain would be hostage to float aggregation order.",
)
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("state"),
        (F.col("event_type") == "purchase").alias("is_conv"),
    )
    key = F.struct("ts", "event_id")
    fp = keyed.where("is_conv").groupBy("user_id").agg(F.min(key).alias("cut"))
    j = keyed.join(fp, "user_id", "left").where(
        F.col("cut").isNull() | (key <= F.col("cut"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    seq = j.select(
        "state",
        F.lag("state").over(w).alias("prev"),
        F.row_number().over(wd).alias("rdesc"),
    )
    # both edge kinds in ONE pass (no self-union of the window frame):
    # the hop edge always, the terminal ->null edge only on the last
    # non-converting row
    hop = F.struct(
        F.coalesce(F.col("prev"), F.lit("start")).alias("src"),
        F.col("state").alias("dst"),
    )
    terminal = F.when(
        (F.col("rdesc") == 1) & (F.col("state") != "conv"),
        F.struct(F.col("state").alias("src"), F.lit("null").alias("dst")),
    )
    edges = (
        seq.select(F.explode(F.array(hop, terminal)).alias("e"))
        .where(F.col("e").isNotNull())
        .select("e.src", "e.dst")
    )
    cnt = edges.groupBy("src", "dst").agg(F.count("*").cast("bigint").alias("n"))
    tot = cnt.groupBy("src").agg(F.sum("n").cast("bigint").alias("total"))
    probs = cnt.join(F.broadcast(tot), "src").select(
        "src",
        "dst",
        int_div(F.col("n") * _MK_M, F.col("total")).alias("p"),
    )
    # Pivot the (<= states^2)-row probability frame into ONE row of p_s_t
    # columns: every scenario chain then runs as PURE integer expression
    # arithmetic on that row — zero joins, zero shuffles, zero extra jobs
    # (the first form, a per-step join+groupBy loop, spent 50 s on 40
    # tiny-frame shuffle stages computing the same numbers).
    states = ("start", *_MK_CHANNELS, "conv", "null")
    transient = ("start", *_MK_CHANNELS)
    pivot = probs.agg(
        *[
            F.coalesce(
                F.max(F.when((F.col("src") == s) & (F.col("dst") == t), F.col("p"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"p_{s}_{t}")
            for s in transient
            for t in states
            if t != "start"
        ]
    ).localCheckpoint()
    scens = ("none", *_MK_CHANNELS)

    def p_sql(scen: str, s: str, t: str) -> str | None:
        """Effective transition p(s -> t) under the scenario, as a SQL
        fragment over the pivot row — None when identically zero
        (absorbing self-loops inlined).  Whole steps are built as SQL
        strings because the Column-object form spent 55 s of pure Py4J
        round trips constructing the same arithmetic."""
        if s in ("conv", "null"):
            return str(_MK_M) if t == s else None
        if t == "start":
            return None
        if scen != "none":
            if s == scen or t == scen:
                return None
            if t == "null":
                return f"(p_{s}_null + p_{s}_{scen})"
        return f"p_{s}_{t}"

    p_cols = list(pivot.columns)
    df = pivot.select(
        *p_cols,
        *[
            F.expr(
                f"CAST({_MK_M if st == 'start' else 0} AS BIGINT) AS m_{sc}_{st}"
            )
            for sc in scens
            for st in states
        ],
    )
    for step in range(_MK_STEPS):
        new_masses = []
        for sc in scens:
            for t in states:
                # `div` is Spark SQL's exact integral division on bigints
                # (DuckDB's `//`); per-edge division BEFORE the sum keeps
                # the arithmetic order-independent
                terms = [
                    f"((m_{sc}_{s} * {p}) div {_MK_M})"
                    for s in states
                    for p in [p_sql(sc, s, t)]
                    if p is not None
                ]
                body = " + ".join(terms) if terms else "0"
                new_masses.append(
                    F.expr(f"CAST({body} AS BIGINT) AS m_{sc}_{t}")
                )
        df = df.select(*p_cols, *new_masses)
        # lazy lineage barrier every second step: without any barrier
        # CollapseProject inlines the 8 chained projections into one
        # 7^8-node expression tree (measured 78 s of pure Catalyst time
        # on a 1-row frame); a 2-step span inlines at most 7^2 terms per
        # column while halving the per-barrier compile cost.  Execution
        # stays pipelined single-task work.
        if step % 2 == 1:
            df = df.localCheckpoint(eager=False)
    conv_cols = df.select(
        *[F.col(f"m_{sc}_conv").alias(f"c_{sc}") for sc in scens]
    )
    stacked = conv_cols.select(
        F.expr(
            "stack({n}, {args}) as (removed_channel, conv_micro)".format(
                n=len(scens),
                args=", ".join(f"'{sc}', c_{sc}" for sc in scens),
            )
        ),
        F.col("c_none").alias("base_conv"),
    )
    return stacked.select(
        "removed_channel",
        "conv_micro",
        F.when(F.col("removed_channel") == "none", F.lit(0).cast("bigint"))
        .otherwise(
            int_div(
                (F.col("base_conv") - F.col("conv_micro")) * _MK_M,
                F.col("base_conv"),
            )
        )
        .alias("removal_effect_micro"),
    ).orderBy("removed_channel")
