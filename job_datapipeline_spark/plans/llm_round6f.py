"""Round-6 sixth batch: character-entropy quality profile, supplier
concentration (HHI), Fano-factor burstiness.

Three more named operators:

- Per-document character entropy — the compression-adjacent quality
  signal (gibberish and binary-ish text score low-entropy-per-symbol
  anomalies in both directions; a standard cheap filter feature next
  to the alpha ratio).  The float part — sum of c*ln(c) over a
  document's character counts — runs as an ORDER-PINNED fold over the
  char-sorted count list (the PCA-norm device), so the double is
  bit-identical on both engines and the milli-quantized entropy
  hash-matches exactly.
- Herfindahl-Hirschman index of supplier revenue concentration per
  nation — the antitrust-grade concentration scalar behind "how
  fragile is this nation's supply base"; squared cent sums widen to
  decimal(38,0)/HUGEINT (they exceed int64 at bench scale), the final
  ratio is one rounded IEEE expression, and the DOJ-style
  classification bands compare the rounded integer.
- Fano factor (variance-to-mean of daily counts) per event type — the
  burstiness dispersion index: ~1000 milli = Poisson-like arrivals,
  >> 1000 = bursty (the same regime events_burst_viterbi decodes
  day-by-day; this is the one-number screen that says which types are
  worth decoding).  Pure integer power sums, one rounded division.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline (plans/queries.py header): counts and
power sums are exact integers; entropy folds are order-pinned; each
reported value is one rounded IEEE expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# Character entropy
# ---------------------------------------------------------------------------


@register(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id,
                   unnest([substring(t, i, 1)
                           FOR i IN range(1, len(t) + 1)]) AS ch
            FROM (SELECT doc_id, lower(text) AS t FROM documents) x) u
        GROUP BY 1, 2
    ),
    folded AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n,
               -- order-pinned fold: c*ln(c) accumulated in char order,
               -- bit-identical to Spark's index-order aggregate
               list_reduce(
                   list_prepend(0.0, list(c * ln(c) ORDER BY ch)),
                   (acc, x) -> acc + x) AS s
        FROM chars GROUP BY doc_id
    )
    SELECT doc_id, n AS n_chars_counted,
           CAST(round(1000.0 * (ln(1.0 * n) - s / n)) AS BIGINT)
               AS entropy_milli
    FROM folded
    ORDER BY doc_id
    """,
    doc="Per-document character entropy in milli-nats: H = ln(n) - "
        "sum(c*ln c)/n over lowercase character counts — the "
        "compression-adjacent quality feature (low entropy = repeated/"
        "template text, suspiciously high = encoding garbage; pairs "
        "with text_quality_classifier's ratio features). The one float "
        "accumulation — sum of c*ln(c) over a document's distinct "
        "characters — is an ORDER-PINNED fold (counts sorted by "
        "character, F.aggregate == DuckDB list_reduce in the same "
        "order), so the milli-quantized result hash-matches across "
        "engines; per-document alphabets are small (<= charset), so "
        "the fold arrays are bounded. The 100 TB shape: the character "
        "explosion partial-aggregates to (doc, char) counts — at most "
        "|alphabet| rows per doc cross the shuffle — and the fold is "
        "map-side after one doc-keyed combine.",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    chars = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "")).alias("ch"),
        )
        .where(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    folded = chars.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ch", "c"))),
                lambda s: s["c"].cast("double"),
            ),
            F.lit(0.0),
            lambda acc, c: acc + c * F.log(c),
        ).alias("s"),
    )
    return folded.select(
        "doc_id",
        F.col("n").alias("n_chars_counted"),
        F.round(
            F.lit(1000.0)
            * (F.log(F.lit(1.0) * F.col("n")) - F.col("s") / F.col("n"))
        )
        .cast("bigint")
        .alias("entropy_milli"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Supplier concentration HHI
# ---------------------------------------------------------------------------


@register(
    "orders_supplier_hhi",
    oracle="""
    WITH rev AS (
        SELECT n.n_name AS nation, l.l_suppkey AS sk,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               -- HUGEINT: squared cent sums exceed int64 at bench scale
               sum(CAST(cents AS HUGEINT) * cents) AS ssq
        FROM rev GROUP BY 1
    )
    SELECT nation, n_suppliers, total_cents,
           CAST(round(1000000.0 * CAST(ssq AS DOUBLE)
                      / (CAST(total_cents AS DOUBLE) * total_cents))
                AS BIGINT) AS hhi_micro,
           CASE WHEN CAST(round(1000000.0 * CAST(ssq AS DOUBLE)
                      / (CAST(total_cents AS DOUBLE) * total_cents))
                     AS BIGINT) < 150000 THEN 'unconcentrated'
                WHEN CAST(round(1000000.0 * CAST(ssq AS DOUBLE)
                      / (CAST(total_cents AS DOUBLE) * total_cents))
                     AS BIGINT) < 250000 THEN 'moderate'
                ELSE 'high' END AS concentration
    FROM agg
    ORDER BY nation
    """,
    doc="Herfindahl-Hirschman index of supplier revenue concentration "
        "per nation — sum of squared market shares, the antitrust-"
        "grade 'how fragile is this supply base' scalar, with the "
        "standard DOJ bands (0.15/0.25, here in micro-units) deciding "
        "the class on the ROUNDED integer so the verdict is engine-"
        "exact. Squared cent sums widen BEFORE multiplying "
        "(decimal(38,0) / HUGEINT — they pass int64 around bench "
        "scale, the same ceiling the EM and PCA accumulators hit); "
        "the index itself is one rounded IEEE expression over exact "
        "sums. The 100 TB shape: supplier and nation dims broadcast, "
        "lineitem partial-combines onto the (nation, supplier) frame, "
        "and the per-nation fold is algebraic — nothing but the "
        "rollup crosses the wire.",
)
def orders_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(
            F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    agg = rev.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("ssq"),
    )
    hhi = F.round(
        F.lit(1_000_000.0)
        * F.col("ssq").cast("double")
        / (F.col("total_cents").cast("double") * F.col("total_cents"))
    ).cast("bigint")
    return agg.select(
        "nation",
        "n_suppliers",
        "total_cents",
        hhi.alias("hhi_micro"),
        F.when(hhi < 150_000, "unconcentrated")
        .when(hhi < 250_000, "moderate")
        .otherwise("high")
        .alias("concentration"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Fano-factor burstiness
# ---------------------------------------------------------------------------


@register(
    "events_fano_burstiness",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(n) AS BIGINT) AS s,
               CAST(sum(n * n) AS BIGINT) AS ss
        FROM daily GROUP BY 1
    )
    SELECT event_type, n_days, s AS n_events,
           CAST(round(1000.0 * (n_days * ss - s * s)
                      / ((n_days - 1) * s)) AS BIGINT) AS fano_milli,
           (1000.0 * (n_days * ss - s * s) / ((n_days - 1) * s)) > 1500.0
               AS bursty
    FROM stats
    ORDER BY event_type
    """,
    doc="Fano factor (index of dispersion, variance / mean of daily "
        "counts) per event type, in milli-units: ~1000 = Poisson-like "
        "arrivals, substantially above = bursty — the one-number "
        "screen that says which event types are worth running "
        "events_burst_viterbi's day-level decode on, and the standard "
        "overdispersion diagnostic before fitting any count model. "
        "var/mean collapses to (n*SS - S^2) / ((n-1)*S) — pure integer "
        "power sums inside, ONE rounded division out; the bursty flag "
        "(threshold 1.5) compares the unrounded expression, which is "
        "still a single deterministic IEEE value per type. The 100 TB "
        "shape: events partial-combine onto the (type, day) calendar "
        "frame; the per-type fold is algebraic.",
)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.col("ts").cast("timestamp").cast("date").alias("day")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("ss"),
    )
    fano = (
        F.lit(1000.0)
        * (F.col("n_days") * F.col("ss") - F.col("s") * F.col("s"))
        / ((F.col("n_days") - 1) * F.col("s"))
    )
    return stats.select(
        "event_type",
        "n_days",
        F.col("s").alias("n_events"),
        F.round(fano).cast("bigint").alias("fano_milli"),
        (fano > 1500.0).alias("bursty"),
    ).orderBy("event_type")
