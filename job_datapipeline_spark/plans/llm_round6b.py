"""Round-6 second batch: Wilson confidence intervals, event path
trigrams, and a quarantine-split quality gate.

Three more named operators:

- Wilson 95% score interval for per-nation return rates — the
  interval every dashboard should show instead of the raw ratio
  (normal-approximation intervals collapse at small n / extreme p;
  Wilson stays inside [0,1] and behaves at n=1).  Counts are exact
  bigints; each bound is ONE deterministic double expression over
  them, rounded once to micro-units.
- Top event-type path trigrams: per-user journeys (ts, event_id
  pinned order) shredded into consecutive 3-step paths, counted
  corpus-wide, top-20 with fully pinned ties — the path-mining
  staple behind "what do users do right before churning".
- Quarantine split: row-level data-quality gate over orders — every
  rule failure routes the row to a quarantine parquet with its
  reasons, passers to the clean parquet, and the report (recomputed
  from the MATERIALIZED sinks, not the logical plan) counts rows per
  rule and per destination — the Deequ/expectations pattern with the
  writer in the loop.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline (plans/queries.py header): counts are
exact bigints; Wilson bounds are single IEEE expressions on exact
integers, rounded once to micro.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .queries import _scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# Wilson score interval
# ---------------------------------------------------------------------------

_WILSON_Z = 1.96  # 95% two-sided


@register(
    "orders_wilson_ci",
    oracle=f"""
    WITH counts AS (
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    )
    SELECT nation, n_lines, n_returned,
           CAST(round(1000000.0 * n_returned / n_lines) AS BIGINT)
               AS rate_micro,
           CAST(round(1000000.0 *
                (n_returned + {_WILSON_Z} * {_WILSON_Z} / 2
                 - {_WILSON_Z} * sqrt(
                       n_returned * 1.0 * (n_lines - n_returned) / n_lines
                       + {_WILSON_Z} * {_WILSON_Z} / 4))
                / (n_lines + {_WILSON_Z} * {_WILSON_Z})) AS BIGINT)
               AS wilson_lo_micro,
           CAST(round(1000000.0 *
                (n_returned + {_WILSON_Z} * {_WILSON_Z} / 2
                 + {_WILSON_Z} * sqrt(
                       n_returned * 1.0 * (n_lines - n_returned) / n_lines
                       + {_WILSON_Z} * {_WILSON_Z} / 4))
                / (n_lines + {_WILSON_Z} * {_WILSON_Z})) AS BIGINT)
               AS wilson_hi_micro
    FROM counts
    ORDER BY nation
    """,
    doc=f"Wilson 95% score interval (z={_WILSON_Z}) for per-nation "
        "return rates — the binomial interval that stays inside [0,1] "
        "and does not collapse at small n, vs the naive normal "
        "interval (the reason it is the default in every A/B platform; "
        "companion to events_ab_test_ztest's point test). The "
        "k + z^2/2 +- z*sqrt(k(n-k)/n + z^2/4) over (n + z^2) form is "
        "algebraically identical to the p-hat form but keeps the "
        "numerator in COUNT units, so the only division is the final "
        "one: each bound is one deterministic IEEE expression over "
        "exact bigint counts, rounded once to micro-units — "
        "engine-exact. The 100 TB shape: dims broadcast, one partial-"
        "combining rollup to the 25-nation frame, map-side arithmetic "
        "after; nothing but the rollup crosses the wire.",
)
def orders_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    counts = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("n_returned"),
        )
    )
    z = _WILSON_Z
    k, nn = F.col("n_returned"), F.col("n_lines")
    spread = F.sqrt(k * 1.0 * (nn - k) / nn + z * z / 4)
    den = nn + z * z
    return counts.select(
        "nation",
        "n_lines",
        "n_returned",
        F.round(F.lit(1_000_000.0) * k / nn).cast("bigint").alias("rate_micro"),
        F.round(F.lit(1_000_000.0) * (k + z * z / 2 - z * spread) / den)
        .cast("bigint")
        .alias("wilson_lo_micro"),
        F.round(F.lit(1_000_000.0) * (k + z * z / 2 + z * spread) / den)
        .cast("bigint")
        .alias("wilson_hi_micro"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Event path trigrams
# ---------------------------------------------------------------------------

_PATH_TOPK = 20


@register(
    "events_path_trigrams",
    oracle=f"""
    WITH seqs AS (
        SELECT user_id,
               list(event_type ORDER BY ts, event_id) AS s
        FROM events GROUP BY 1
    ),
    tri AS (
        SELECT unnest(CASE WHEN len(s) >= 3
                           THEN [s[i] || '>' || s[i+1] || '>' || s[i+2]
                                 FOR i IN range(1, len(s) - 1)]
                           ELSE [] END) AS path
        FROM seqs
    ),
    counted AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n FROM tri GROUP BY 1
    )
    SELECT path, n FROM counted
    ORDER BY n DESC, path
    LIMIT {_PATH_TOPK}
    """,
    doc=f"Top-{_PATH_TOPK} event-type path trigrams: each user's journey "
        "(pinned (ts, event_id) order) shredded into consecutive "
        "3-step paths, counted corpus-wide, ties pinned by path text — "
        "the sequence-mining staple behind churn-path and funnel-"
        "discovery analyses (the Markov-chain view in "
        "events_markov_transitions assumes order 1; trigrams surface "
        "the order-2 structure it misses). The 100 TB shape: one "
        "shuffle to per-user sequences (collect_list partial-combines; "
        "per-user arrays are session-scale), map-side trigram "
        "explosion, a partial-combining count, and TakeOrdered for "
        "the top-k — no global sort; path-key skew is bounded by the "
        "event-type vocabulary cubed.",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = (
        table(spark, sf_dir, "events")
        .select("user_id", F.struct("ts", "event_id", "event_type").alias("e"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
        .select(F.transform("es", lambda e: e["event_type"]).alias("s"))
    )
    tri = seqs.select(
        F.explode(
            F.when(
                F.size("s") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("s") - 2),
                    lambda i: F.concat_ws(
                        ">",
                        F.element_at("s", i),
                        F.element_at("s", i + 1),
                        F.element_at("s", i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("path")
    )
    return (
        tri.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Quarantine split
# ---------------------------------------------------------------------------

_QUAR_MAX_DATE = "2025-01-01"


@register(
    "quality_quarantine_split",
    oracle=f"""
    WITH src AS (
        SELECT o_orderkey, o_totalprice, o_orderdate, o_orderpriority,
               o_custkey
        FROM orders
        UNION ALL
        -- planted violations (the fixtures are clean by construction;
        -- a gate that never fires certifies nothing)
        SELECT * FROM (VALUES
            (900000001, -5.00,  TIMESTAMP '2024-01-01', '1-URGENT', 1),
            (900000002, 10.00,  TIMESTAMP '2025-06-01', '1-URGENT', 1),
            (900000003, 10.00,  TIMESTAMP '2024-01-01', 'EXPEDITE??', 1),
            (900000004, 10.00,  TIMESTAMP '2024-01-01', '5-LOW', -7),
            (900000005, -1.00,  NULL, 'zz', 0)
        ) v(o_orderkey, o_totalprice, o_orderdate, o_orderpriority, o_custkey)
    ),
    flagged AS (
        SELECT o_orderkey,
               (round(o_totalprice * 100) <= 0) AS r_nonpos_price,
               (o_orderdate IS NULL
                OR o_orderdate >= TIMESTAMP '{_QUAR_MAX_DATE}')
                   AS r_bad_date,
               (o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
                                        '4-NOT SPECIFIED', '5-LOW'))
                   AS r_bad_priority,
               (o_custkey <= 0) AS r_bad_custkey
        FROM src
    ),
    labeled AS (
        SELECT *,
               (r_nonpos_price OR r_bad_date OR r_bad_priority
                OR r_bad_custkey) AS quarantined
        FROM flagged
    )
    SELECT bucket, n FROM (
        SELECT 'clean' AS bucket,
               CAST(sum(CASE WHEN NOT quarantined THEN 1 ELSE 0 END)
                    AS BIGINT) AS n FROM labeled
        UNION ALL
        SELECT 'quarantine',
               CAST(sum(CASE WHEN quarantined THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
        UNION ALL
        SELECT 'rule:nonpos_price',
               CAST(sum(CASE WHEN r_nonpos_price THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
        UNION ALL
        SELECT 'rule:bad_date',
               CAST(sum(CASE WHEN r_bad_date THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
        UNION ALL
        SELECT 'rule:bad_priority',
               CAST(sum(CASE WHEN r_bad_priority THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
        UNION ALL
        SELECT 'rule:bad_custkey',
               CAST(sum(CASE WHEN r_bad_custkey THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
    ) t ORDER BY bucket
    """,
    doc="Quarantine-split quality gate — the expectations pattern with "
        "the WRITER in the loop: four row-level rules over orders "
        "(positive price, sane date, known priority, positive custkey); "
        "failing rows land in a quarantine parquet carrying their "
        "comma-joined reasons, passers in the clean parquet, and the "
        "report is recomputed FROM THE MATERIALIZED SINKS (read-back, "
        "the mart_star_schema_build convention), so a hash match "
        "certifies the split-write-readback chain, not just the rule "
        "expressions. Complements quality_constraint_checks (dataset-"
        "level verdicts, no routing). The 100 TB shape: rules are "
        "map-side booleans, the split is two filtered writes of the "
        "same scan, and the report partial-combines over the "
        "read-back; quarantine stays small by construction in a "
        "healthy pipeline, and the reasons column makes triage "
        "O(grep), not O(re-run).",
)
def quality_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch_dir("quarantine_split")
    clean_path = _os.path.join(base, "clean")
    quar_path = _os.path.join(base, "quarantine")
    plants = spark.createDataFrame(
        [
            (900000001, -5.00, "2024-01-01", "1-URGENT", 1),
            (900000002, 10.00, "2025-06-01", "1-URGENT", 1),
            (900000003, 10.00, "2024-01-01", "EXPEDITE??", 1),
            (900000004, 10.00, "2024-01-01", "5-LOW", -7),
            (900000005, -1.00, None, "zz", 0),
        ],
        "o_orderkey long, o_totalprice double, o_orderdate string, "
        "o_orderpriority string, o_custkey long",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    o = (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority",
            "o_custkey",
        )
        .unionByName(plants)
    )
    rules = [
        ("nonpos_price", F.round(F.col("o_totalprice") * 100) <= 0),
        (
            "bad_date",
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") >= F.lit(_QUAR_MAX_DATE).cast("timestamp")),
        ),
        (
            "bad_priority",
            ~F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        ),
        ("bad_custkey", F.col("o_custkey") <= 0),
    ]
    flagged = o.select(
        "o_orderkey",
        *[cond.alias(f"r_{name}") for name, cond in rules],
    ).withColumn(
        "reasons",
        F.concat_ws(
            ",",
            *[
                F.when(F.col(f"r_{name}"), F.lit(name))
                for name, _ in rules
            ],
        ),
    )
    quarantined = F.col("reasons") != ""
    flagged.where(~quarantined).write.mode("overwrite").parquet(clean_path)
    flagged.where(quarantined).write.mode("overwrite").parquet(quar_path)
    clean_back = spark.read.parquet(clean_path)
    quar_back = spark.read.parquet(quar_path)
    rows = [
        clean_back.agg(
            F.lit("clean").alias("bucket"), F.count("*").cast("bigint").alias("n")
        ),
        quar_back.agg(
            F.lit("quarantine").alias("bucket"),
            F.count("*").cast("bigint").alias("n"),
        ),
    ]
    both = clean_back.unionByName(quar_back)
    for name, _ in rules:
        rows.append(
            both.agg(
                F.lit(f"rule:{name}").alias("bucket"),
                F.sum(F.when(F.col(f"r_{name}"), 1).otherwise(0))
                .cast("bigint")
                .alias("n"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("bucket")
