"""Round-6 first batch: the distributed total-order primitives
(operators/ranks.py) as first-class registry surface — Lorenz curve,
corpus length deciles, exact median/MAD — plus Heaps'-law vocabulary
growth and per-document n-gram novelty scoring.

Five more named operators:

- Lorenz curve of customer spend: exact decile assignment over the
  customer dim (operators/ranks.exact_ntile — no single-partition
  window), per-decile cent sums, cumulative share in integer
  micro-units.  The inequality diagnostic behind every "top decile
  drives X% of revenue" claim, with bit-pinned decile membership.
- Corpus length deciles: the same exact-ntile device over documents by
  token count — the length profile used to pick packing/chunking
  budgets, with deterministic tie handling (doc_id) so decile
  boundaries replay bit-identically.
- Exact median + MAD of order totals via exact rank picks
  (operators/ranks.exact_rank_values): lower/upper median in doubled
  cent units, deviations |2v - med_x2| stay exact bigints, MAD from a
  second rank-pick pass in quadrupled units — the robust
  location/scale pair with ZERO floats anywhere.
- Heaps'-law vocabulary growth: first-occurrence doc per distinct
  token (one aggregate), new-type counts per document, cumulative
  vocabulary at exact arrival-order deciles — the V(n) curve that
  sizes tokenizer vocabularies and detects template-heavy corpora.
- N-gram novelty: per evaluation document, the fraction of its
  distinct word 5-grams absent from a reference split (md5-hashed
  join keys, anti-join counting) — the "how much of this doc is new
  text" score that complements decontamination's binary flag.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline (plans/queries.py header): cents, token
counts, gram counts and rank picks are exact bigints; each reported
share/permille is one rounded IEEE division on exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.text import tokenize, word_ngrams
from ..operators.ranks import exact_ntile, exact_rank_values, int_div
from .registry import register

# ---------------------------------------------------------------------------
# Lorenz curve of customer spend
# ---------------------------------------------------------------------------

_LORENZ_K = 10


def _cum_small(df: DataFrame, key_col: str, val_cols: list[str]) -> DataFrame:
    """Inclusive running sums over a SMALL keyed frame (k rows, k fixed —
    deciles, calendar buckets) via the triangular self-join, so even the
    tiny cumulative step stays window-free."""
    a = df.alias("a")
    # broadcast: the <= condition would otherwise compile to
    # CartesianProduct; both sides are k-row frames
    b = F.broadcast(df.alias("b"))
    keep = [F.col(f"a.{c}").alias(c) for c in df.columns]
    sums = [
        F.sum(F.col(f"b.{c}")).cast("long").alias(f"cum_{c}") for c in val_cols
    ]
    return (
        a.join(b, F.col(f"b.{key_col}") <= F.col(f"a.{key_col}"))
        .groupBy(*keep)
        .agg(*sums)
    )


@register(
    "orders_lorenz_curve",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey AS ck,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    d AS (
        SELECT ck, cents,
               ntile({_LORENZ_K}) OVER (ORDER BY cents, ck) AS decile
        FROM spend
    ),
    g AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS decile_cents
        FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM spend)
    SELECT CAST(decile AS BIGINT) AS decile, n_customers, decile_cents,
           CAST(sum(decile_cents) OVER (ORDER BY decile) AS BIGINT)
               AS cum_cents,
           CAST(round(1000000.0 * sum(decile_cents) OVER (ORDER BY decile)
                      / t.total) AS BIGINT) AS cum_share_micro
    FROM g CROSS JOIN t
    ORDER BY decile
    """,
    doc=f"Lorenz curve of customer spend in {_LORENZ_K} exact deciles — "
        "the revenue-concentration diagnostic (companion to "
        "agg_gini_concentration's scalar): per decile of customers "
        "ordered by (spend, custkey), the cent sum and the cumulative "
        "share in integer micro-units. Decile membership EXECUTES as "
        "operators/ranks.exact_ntile (distributed row numbers + the "
        "exact SQL NTILE fill; range partition + partitioned window + "
        "broadcast P-row offsets), so no stage moves the customer dim "
        "to one partition; the cumulative step runs on the 10-row "
        "decile frame via the window-free triangular join. The 100 TB "
        "shape: orders collapse to the customer dim in one partial-"
        "combining exchange, the ntile pass is two parallel shuffles "
        "of that dim, and everything after is k-row arithmetic.",
)
def orders_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    d = exact_ntile(spend, ["cents", "ck"], _LORENZ_K, out_col="decile")
    # materialize the k-row decile frame: it feeds THREE consumers (the
    # triangular cumulative's both sides and the total), and without the
    # checkpoint each replays the whole post-checkpoint ntile subtree —
    # measured 31 -> 5 plan exchanges (plan_pins ledger)
    g = (
        d.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("decile_cents"),
        )
        .localCheckpoint()
    )
    cum = _cum_small(g, "decile", ["decile_cents"])
    total = g.agg(F.sum("decile_cents").cast("bigint").alias("total"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "decile_cents",
            F.col("cum_decile_cents").alias("cum_cents"),
            F.round(
                F.lit(1_000_000.0) * F.col("cum_decile_cents") / F.col("total")
            )
            .cast("bigint")
            .alias("cum_share_micro"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Corpus length deciles
# ---------------------------------------------------------------------------


@register(
    "corpus_length_deciles",
    oracle="""
    WITH dt AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS ntok
        FROM documents
    ),
    d AS (
        SELECT doc_id, ntok,
               ntile(10) OVER (ORDER BY ntok, doc_id) AS decile
        FROM dt
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(ntok) AS BIGINT) AS min_tok,
           CAST(max(ntok) AS BIGINT) AS max_tok,
           CAST(sum(ntok) AS BIGINT) AS sum_tok
    FROM d GROUP BY 1 ORDER BY decile
    """,
    doc="Corpus length profile in 10 exact deciles by whitespace token "
        "count (ties pinned by doc_id): per decile the doc count, token "
        "min/max (the decile BOUNDARIES packing and chunking budgets "
        "are chosen from) and token mass. Executes as operators/ranks."
        "exact_ntile over the document frame — the same primitive the "
        "RFM quintiles use, here on a frame that grows with the corpus, "
        "which is exactly why the single-partition ntile window is "
        "banned (docs/SCALING.md) and the two-pass form is used. The "
        "100 TB shape: one tokenize-count scan, two parallel shuffles "
        "of (doc_id, ntok) pairs, 10-row output.",
)
def corpus_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("ntok"),
    )
    d = exact_ntile(dt, ["ntok", "doc_id"], 10, out_col="decile")
    return (
        d.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("ntok").cast("bigint").alias("min_tok"),
            F.max("ntok").cast("bigint").alias("max_tok"),
            F.sum("ntok").cast("bigint").alias("sum_tok"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Exact median + MAD via rank picks
# ---------------------------------------------------------------------------


@register(
    "agg_exact_median_mad",
    oracle="""
    WITH data AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
        FROM orders
    ),
    r AS (
        SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM data
    ),
    m AS (
        SELECT CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN v END)
                    + sum(CASE WHEN rn = (n + 2) // 2 THEN v END) AS BIGINT)
                   AS med_x2,
               CAST(max(n) AS BIGINT) AS n
        FROM r
    ),
    dev AS (
        SELECT abs(2 * d.v - m.med_x2) AS dv, d.o_orderkey
        FROM data d CROSS JOIN m
    ),
    r2 AS (
        SELECT dv, row_number() OVER (ORDER BY dv, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM dev
    ),
    m2 AS (
        SELECT CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN dv END)
                    + sum(CASE WHEN rn = (n + 2) // 2 THEN dv END) AS BIGINT)
                   AS mad_x4
        FROM r2
    )
    SELECT m.n AS n_orders, m.med_x2 AS median_cents_x2, m2.mad_x4 AS mad_cents_x4
    FROM m CROSS JOIN m2
    """,
    doc="Exact median and median absolute deviation of order totals — "
        "the robust location/scale pair, with ZERO floats: lower/upper "
        "median ranks ((n+1) div 2, (n+2) div 2) are picked by "
        "operators/ranks.exact_rank_values (only the partitions "
        "containing a target rank sort — no global window, no full "
        "sort), reported doubled (med_x2 = lo + hi) so even-n medians "
        "stay integral; deviations |2v - med_x2| are exact bigints in "
        "the same doubled units, and a second rank-pick pass yields "
        "MAD quadrupled (mad_x4). Unlike approx_percentile this is "
        "EXACT and deterministic, and unlike a sort-based exact median "
        "it never materializes a global order — the two-pass rank-"
        "locate device is the escalation SCALING.md documents. The "
        "100 TB shape: two pruned rank-pick passes (each: one range "
        "shuffle + a couple of candidate-partition sorts) + two scalar "
        "aggregates; the second pass's input is a broadcast-joined "
        "derived column, not a copy.",
)
def agg_exact_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = (
        table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            "o_orderkey",
        )
        .localCheckpoint()  # feeds both rank-pick passes + the count
    )
    lo = lambda n: int_div(n + 1, 2)  # noqa: E731
    hi = lambda n: int_div(n + 2, 2)  # noqa: E731
    # each rank-pick pass carries the total it already computed for its
    # pruning predicate (total_col), so no separate count pass and no
    # broadcast n_frame crossJoins
    picks = exact_rank_values(
        data, ["v", "o_orderkey"], [lo, hi], rn_col="rn", total_col="n"
    )
    med = picks.agg(
        (
            F.sum(F.when(F.col("rn") == lo(F.col("n")), F.col("v")))
            + F.sum(F.when(F.col("rn") == hi(F.col("n")), F.col("v")))
        )
        .cast("bigint")
        .alias("med_x2"),
        F.max("n").cast("bigint").alias("n"),
    )
    dev = data.crossJoin(F.broadcast(med.select("med_x2"))).select(
        F.abs(2 * F.col("v") - F.col("med_x2")).alias("dv"), "o_orderkey"
    )
    picks2 = exact_rank_values(
        dev, ["dv", "o_orderkey"], [lo, hi], rn_col="rn", total_col="n"
    )
    mad = picks2.agg(
        (
            F.sum(F.when(F.col("rn") == lo(F.col("n")), F.col("dv")))
            + F.sum(F.when(F.col("rn") == hi(F.col("n")), F.col("dv")))
        )
        .cast("bigint")
        .alias("mad_x4")
    )
    return med.crossJoin(F.broadcast(mad)).select(
        F.col("n").alias("n_orders"),
        F.col("med_x2").alias("median_cents_x2"),
        F.col("mad_x4").alias("mad_cents_x4"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth
# ---------------------------------------------------------------------------


@register(
    "corpus_heaps_law",
    oracle="""
    WITH dt AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM dt),
    first_occ AS (
        SELECT tok, CAST(min(doc_id) AS BIGINT) AS first_doc FROM tok GROUP BY 1
    ),
    new_types AS (
        SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
        FROM first_occ GROUP BY 1
    ),
    docs AS (
        SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS ntok,
               coalesce(n.n_new, 0) AS n_new,
               ntile(10) OVER (ORDER BY d.doc_id) AS decile
        FROM dt d LEFT JOIN new_types n ON n.doc_id = d.doc_id
    ),
    g AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS d_tokens,
               CAST(sum(n_new) AS BIGINT) AS d_types
        FROM docs GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs,
           CAST(sum(d_tokens) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens,
           CAST(sum(d_types) OVER (ORDER BY decile) AS BIGINT) AS cum_vocab
    FROM g ORDER BY decile
    """,
    doc="Heaps'-law vocabulary growth curve V(n): distinct-token first "
        "occurrences (one aggregate over the exploded token stream — "
        "min arrival doc per type), per-document new-type counts, and "
        "the cumulative (tokens, vocabulary) trajectory at 10 exact "
        "arrival-order deciles — the curve that sizes tokenizer "
        "vocabularies (V ~ k*n^beta, beta typically 0.4-0.6 for "
        "natural text) and whose early plateau is the classic "
        "template/boilerplate-corpus tell. Decile membership is "
        "operators/ranks.exact_ntile over the document frame; the "
        "cumulative step is the 10-row triangular join. The 100 TB "
        "shape: the token explosion partial-aggregates to the "
        "vocabulary frame (types, not tokens, cross the shuffle), "
        "new-type counts join back doc-keyed, and the only "
        "corpus-sized shuffles are the type aggregate and the ntile "
        "pass over (doc_id, ntok, n_new) triples.",
)
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = table(spark, sf_dir, "documents").select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    tok = dt.select("doc_id", F.explode("toks").alias("tok"))
    new_types = (
        tok.groupBy("tok")
        .agg(F.min("doc_id").cast("bigint").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_new"))
    )
    docs = (
        dt.select("doc_id", F.size("toks").cast("bigint").alias("ntok"))
        .join(new_types, "doc_id", "left")
        .select(
            "doc_id",
            "ntok",
            F.coalesce(F.col("n_new"), F.lit(0).cast("bigint")).alias("n_new"),
        )
    )
    d = exact_ntile(docs, ["doc_id"], 10, out_col="decile")
    # materialized: both sides of the triangular cumulative read this
    # 10-row frame (the orders_lorenz_curve replay fix)
    g = (
        d.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("d_tokens"),
            F.sum("n_new").cast("bigint").alias("d_types"),
        )
        .localCheckpoint()
    )
    cum = _cum_small(g, "decile", ["d_tokens", "d_types"])
    return cum.select(
        "decile",
        "n_docs",
        F.col("cum_d_tokens").alias("cum_tokens"),
        F.col("cum_d_types").alias("cum_vocab"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# N-gram novelty scoring
# ---------------------------------------------------------------------------

_NOVEL_N = 5


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH dt AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= {_NOVEL_N}
                               THEN [md5(array_to_string(
                                        t[i:i+{_NOVEL_N - 1}], ' '))
                                     FOR i IN range(1, len(t) - {_NOVEL_N - 2})]
                               ELSE [] END) AS gram
            FROM dt) u
    ),
    ref AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 2 = 0
    ),
    ev AS (SELECT doc_id, gram FROM grams WHERE doc_id % 2 = 1),
    scored AS (
        SELECT e.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel
        FROM ev e LEFT JOIN ref r ON r.gram = e.gram
        GROUP BY 1
    )
    SELECT doc_id, n_grams, n_novel,
           CAST((n_novel * 1000) // n_grams AS BIGINT) AS novelty_permille
    FROM scored
    ORDER BY doc_id
    """,
    doc=f"Per-document n-gram novelty: for every odd-id (evaluation) "
        f"document, the share of its DISTINCT word {_NOVEL_N}-grams "
        "absent from the even-id (reference) split — the continuous "
        "companion to corpus_decontaminate's binary overlap flag, used "
        "to score how much genuinely new text a crawl increment brings "
        "before paying to ingest it. Join keys are md5(gram) (32-byte "
        "fixed-width shuffle payload, the operators/decontam device); "
        "novelty is an exact integer per-mille (floor division). The "
        "100 TB shape: both sides partial-aggregate to DISTINCT "
        "(doc, gram-hash) pairs, the reference side deduplicates to "
        "the gram vocabulary, the left join shuffles on the hash, and "
        "the per-doc rollup partial-combines; nothing ever holds raw "
        "gram text.",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = table(spark, sf_dir, "documents").select(
        "doc_id", tokenize(F.col("text")).alias("t")
    )
    grams = (
        dt.select(
            "doc_id",
            F.explode(word_ngrams(F.col("t"), _NOVEL_N)).alias("g"),
        )
        .select("doc_id", F.md5("g").alias("gram"))
        .distinct()
        .localCheckpoint()  # feeds the reference dedup AND the eval side
    )
    ref = grams.where(F.col("doc_id") % 2 == 0).select("gram").distinct()
    ev = grams.where(F.col("doc_id") % 2 == 1)
    scored = (
        ev.join(ref.withColumn("_hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.expr("(n_novel * 1000) div n_grams").alias("novelty_permille"),
    ).orderBy("doc_id")
