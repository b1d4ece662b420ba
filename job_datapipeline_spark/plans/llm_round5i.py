"""Round-5 ninth batch: DAU/WAU/MAU engagement, ABC revenue classes,
native session windows, readability scoring.

Four more named operators:

- DAU / WAU / MAU + stickiness: exact rolling distinct active users —
  the engagement dashboard every product team runs. Exact sliding
  distincts cannot partial-aggregate, so the plan works on the
  (day, user) DISTINCT frame (bounded by days x users) and the
  documented scale path swaps in the mergeable bitmap / theta-sketch
  aggregates (agg_bitmap_distinct, agg_theta_sketch_setops) per day.
- ABC / Pareto classification (the 80/15/5 inventory rule): rank parts
  by revenue, classify by cumulative share with integer
  cross-multiplication thresholds (5*cum <= 4*total is "A") — no
  division anywhere near the class boundary.
- Native session windows: Spark's built-in session_window operator run
  in batch, cross-checked against the first-principles SQL islands
  form (lag + cumulative flag) as the oracle — proving the built-in
  and the classic rewrite agree event-for-event.
- Flesch reading-ease scoring: the classic readability formula over
  vowel-run syllable counts — fixture text has no sentence
  punctuation, so the sentence term degenerates to per-doc word count
  (documented; the operator's value here is the engine-exact formula
  plumbing and the vocabulary-free syllable heuristic).

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): counts/cents
exact; stickiness is one rounded IEEE division; the readability
formula is a pinned-order chain of IEEE ops on exact integer inputs
rounded once to 1e-4 (the BM25 precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# DAU / WAU / MAU
# ---------------------------------------------------------------------------


@register(
    "events_active_users",
    oracle="""
    WITH base AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM base),
    dau AS (SELECT day, count(*) AS dau FROM base GROUP BY day),
    wau AS (
        SELECT d.day, count(DISTINCT b.user_id) AS wau
        FROM days d JOIN base b
          ON b.day <= d.day AND b.day >= d.day - INTERVAL 6 DAY
        GROUP BY d.day
    ),
    mau AS (
        SELECT d.day, count(DISTINCT b.user_id) AS mau
        FROM days d JOIN base b
          ON b.day <= d.day AND b.day >= d.day - INTERVAL 29 DAY
        GROUP BY d.day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(mau.mau AS BIGINT) AS mau,
           CAST(round(1000000.0 * dau.dau / mau.mau) AS BIGINT)
               AS stickiness_micro
    FROM dau JOIN wau ON wau.day = dau.day JOIN mau ON mau.day = dau.day
    ORDER BY day
    """,
    doc="DAU / WAU / MAU + stickiness (DAU/MAU): exact rolling distinct "
        "active users per day over trailing 1/7/30-day windows — the "
        "canonical engagement dashboard. Exact sliding DISTINCT cannot "
        "partial-aggregate (a user active twice in a week must count "
        "once), so the plan first collapses the log to the DISTINCT "
        "(day, user) frame — bounded by days x users, orders of "
        "magnitude under the event count — then range-joins the tiny "
        "day spine against it and counts distinct per window. The "
        "100 TB shape: the day spine broadcasts (it is calendar-sized), "
        "the range join fans each (day, user) row into at most 7/30 "
        "window memberships of a BOUNDED frame, and the documented "
        "escalation replaces exact distinct with the mergeable per-day "
        "bitmap or theta-sketch state (agg_bitmap_distinct / "
        "agg_theta_sketch_setops) unioned across the window — kilobytes "
        "per day instead of the user frame. Stickiness is one rounded "
        "IEEE division on exact counts.",
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        table(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .localCheckpoint()  # feeds the spine, DAU, and both range joins
    )
    days = base.select("day").distinct()
    dau = base.groupBy("day").agg(F.count("*").alias("dau"))

    def rolling(n_days: int, name: str) -> DataFrame:
        d = days.alias("d")
        b = base.alias("b")
        return (
            F.broadcast(d)
            .join(
                b,
                (F.col("b.day") <= F.col("d.day"))
                & (F.datediff(F.col("d.day"), F.col("b.day")) <= n_days - 1),
            )
            .groupBy(F.col("d.day").alias("day"))
            .agg(F.countDistinct("b.user_id").alias(name))
        )

    wau = rolling(7, "wau")
    mau = rolling(30, "mau")
    return (
        dau.join(F.broadcast(wau), "day")
        .join(F.broadcast(mau), "day")
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(F.lit(1_000_000.0) * F.col("dau") / F.col("mau"))
            .cast("bigint")
            .alias("stickiness_micro"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification
# ---------------------------------------------------------------------------


@register(
    "orders_abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey AS part,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT part, cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, part
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cents
        FROM rev
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    classed AS (
        SELECT r.part, r.cents,
               CASE WHEN 5 * r.cum_cents <= 4 * t.total THEN 'A'
                    WHEN 20 * r.cum_cents <= 19 * t.total THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked r CROSS JOIN tot t
    )
    SELECT abc_class,
           count(*) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST(round(1000000.0 * sum(cents)
                      / (SELECT total FROM tot)) AS BIGINT) AS share_micro
    FROM classed
    GROUP BY abc_class ORDER BY abc_class
    """,
    doc="ABC / Pareto classification (the 80/15/5 inventory rule): "
        "parts ranked by revenue, class A while the running share stays "
        "within 80% of total, B to 95%, else C — with the class "
        "boundaries decided by integer CROSS-MULTIPLICATION (5*cum <= "
        "4*total, 20*cum <= 19*total), so no floating division sits "
        "anywhere near a classification boundary; the output shares are "
        "display-only rounded divisions. The 100 TB shape: one "
        "partial-aggregatable rollup collapses the fact table to the "
        "part dimension; the running sum EXECUTES as operators/"
        "ranks.global_cumsum (range partition on (cents DESC, part), "
        "partitioned per-partition running sums, broadcast prefix "
        "offsets) — no single-partition window anywhere in the plan; "
        "the totals scalar broadcasts. Output is the 3-row class "
        "census.",
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import global_cumsum

    rev = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()  # feeds the total AND the ranked cumsum
    )
    ranked = global_cumsum(
        rev, [F.col("cents").desc(), "part"], "cents", out_col="cum_cents"
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("total"))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "cents",
        "total",
        F.when(5 * F.col("cum_cents") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum_cents") <= 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.round(
                F.lit(1_000_000.0) * F.sum("cents") / F.any_value("total")
            )
            .cast("bigint")
            .alias("share_micro"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Native session windows
# ---------------------------------------------------------------------------

_SW_GAP_MIN = 30


@register(
    "events_session_window_native",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts)
                       >= {_SW_GAP_MIN} * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM seq
    ),
    sessions AS (
        SELECT user_id,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_id, count(*) AS n
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(n) AS BIGINT) AS max_session_events,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM per_session
    GROUP BY user_id ORDER BY user_id
    """,
    doc="Native session windows: Spark's built-in session_window "
        f"operator (gap {_SW_GAP_MIN} min) run in BATCH, reduced to "
        "per-user session statistics (count / largest / total events) "
        "and cross-checked against the first-principles SQL islands "
        "form — lag + gap flag + running sum — as the oracle. Agreement "
        "proves the built-in's semantics (an event at exactly "
        "last + gap starts a NEW session; the islands form mirrors "
        "with >=) event-for-event, so a pipeline can switch between "
        "the native operator (which also runs stateful in streaming — "
        "streaming_sessionize_stateful is this operator's streaming "
        "twin) and the portable rewrite knowing they agree. The 100 TB "
        "shape: session_window compiles to one hash shuffle on user_id "
        "+ a sort — identical cost to the islands rewrite — and the "
        "stats aggregate partial-combines on (user, session).",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", f"{_SW_GAP_MIN} minutes")
    ).agg(F.count("*").alias("n"))
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.max("n").cast("bigint").alias("max_session_events"),
            F.sum("n").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Flesch reading ease
# ---------------------------------------------------------------------------


@register(
    "text_readability_scores",
    oracle="""
    WITH stats AS (
        SELECT doc_id,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS n_words,
               len(regexp_extract_all(lower(text), '[aeiou]+'))
                   AS n_syllables,
               greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS n_sentences
        FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CAST(round(10000.0 * (206.835
                - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)))
                AS BIGINT) AS fre_e4
    FROM stats
    ORDER BY doc_id
    """,
    doc="Flesch reading-ease scoring: FRE = 206.835 - 1.015*(words/"
        "sentences) - 84.6*(syllables/words), with syllables counted as "
        "maximal vowel runs (the standard dictionary-free heuristic) "
        "and sentences as terminal-punctuation runs floored at 1 — the "
        "fixture corpus has no sentence punctuation, so the sentence "
        "term degenerates to the word count per doc (documented; the "
        "operator's value here is the engine-exact formula plumbing, "
        "and real corpora exercise the sentence term with the same "
        "expressions). Cross-engine float discipline: every input is an "
        "exact integer, the formula is a PINNED-ORDER chain of IEEE ops "
        "(two divisions, two multiplications, two subtractions written "
        "identically on both engines), rounded once to 1e-4 — the BM25 "
        "round-precedent. The 100 TB shape: pure map-side expressions "
        "riding the scan; zero exchanges beyond the output sort.",
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_words = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    n_syll = F.size(F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))
    n_sent = F.greatest(
        F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)"))
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            n_words.cast("bigint").alias("n_words"),
            n_syll.cast("bigint").alias("n_syllables"),
            F.round(
                F.lit(10_000.0)
                * (
                    F.lit(206.835)
                    - F.lit(1.015) * (n_words.cast("double") / n_sent)
                    - F.lit(84.6) * (n_syll.cast("double") / n_words)
                )
            )
            .cast("bigint")
            .alias("fre_e4"),
        )
        .orderBy("doc_id")
    )
