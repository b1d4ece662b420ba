"""Round-5 fourth batch: PMI collocations, curriculum scheduling,
incremental view maintenance, preference pairs, lexical diversity,
and a Gini concentration audit.

Six more named operators on the training-data surface:

- PMI collocations (Church & Hanks 1990): adjacent-bigram pointwise
  mutual information — the classic collocation extractor corpus
  linguists and tokenizer designers run first. One bigram aggregate
  feeds the pair / left-unigram / right-unigram / total counts.
- Curriculum schedule: order the corpus by a quality score and cut it
  into fixed token-budget phases via a running sum — the data-ordering
  step of curriculum learning (Bengio et al. 2009).
- Incremental materialized-view maintenance (Gupta & Mumick 1995):
  consume a CDC delta (the snapshot_diff pattern) and apply per-group
  delta rules to an existing aggregate, verifying in-plan that the
  maintained view equals the full recompute.
- Preference-pair construction: the DPO/RLHF data-prep step — per
  group, pair the best-scoring document against the worst, keeping
  pairs whose score gap clears a margin.
- Lexical diversity: type-token ratio and hapax-legomena rate per
  language — standard corpus-QA signals alongside Zipf slope.
- Gini concentration: the inequality coefficient of documents across
  sources — the "is one domain dominating my mix" audit that pairs
  with corpus_domain_cap.

Reference parity: the reference pipeline (glassdoor-scraper/src/
main.py) computes none of these; this module belongs to the extended
100 TB training-data surface. Float discipline (plans/queries.py
header): scores are integer micro-units via a single IEEE division
rounded immediately; PMI uses the accepted ln + round-4 precedent
(plans/llm_extras.py BM25); all sums/counts are exact bigints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

_PMI_MIN_PAIR = 5  # ignore bigrams seen fewer than this many times
_PMI_TOPK = 20


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents
    ),
    big AS (
        SELECT unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i + 1])) AS bg
        FROM toks
    ),
    pairs AS (
        SELECT string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2,
               count(*) AS n_pair
        FROM big GROUP BY 1, 2
    ),
    lefts AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS c1 FROM pairs GROUP BY w1),
    rights AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS c2 FROM pairs GROUP BY w2),
    tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM pairs)
    SELECT p.w1, p.w2, p.n_pair,
           CAST(round(ln(CAST(t.n * p.n_pair AS DOUBLE)
                         / CAST(l.c1 * r.c2 AS DOUBLE)) * 10000)
                AS BIGINT) AS pmi_e4
    FROM pairs p
    JOIN lefts l ON p.w1 = l.w1
    JOIN rights r ON p.w2 = r.w2
    CROSS JOIN tot t
    WHERE p.n_pair >= {_PMI_MIN_PAIR}
    ORDER BY pmi_e4 DESC, p.w1, p.w2
    LIMIT {_PMI_TOPK}
    """,
    doc="PMI collocations (Church & Hanks 1990): pointwise mutual "
        "information of adjacent token bigrams, pmi = ln(N*c12/(c1*c2)) "
        "with N = total bigrams, c1/c2 the left/right marginal counts — "
        "the classic collocation extractor, and the association signal "
        "BPE-style tokenizer designers inspect before merging pairs "
        "(complements tokenizer_bpe_pairs, which takes the argmax; this "
        "ranks the whole table by association strength). The 100 TB "
        "shape: bigram construction is a pure map-side transform+explode "
        "(zero exchanges), ONE bigram aggregate is localCheckpointed and "
        "feeds all four consumers — pair counts, both marginals (derived "
        "by re-aggregating the pair table, never re-scanning the corpus), "
        "and the total — and the marginal/total joins run over the "
        "vocabulary-sized pair table, broadcast. Float discipline: counts "
        "multiply as exact bigints before one cast to double each, one "
        "ln, rounded to 1e-4 (the accepted BM25 precedent).",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        F.split(F.trim(F.lower("text")), r"\s+").alias("ts")
    )
    bigrams = docs.select(
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("ts"), i),
                        F.element_at(F.col("ts"), i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg")
    )
    pairs = (
        bigrams.select(
            F.split("bg", " ").getItem(0).alias("w1"),
            F.split("bg", " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .localCheckpoint()  # feeds marginals + total + final join; no CSE
    )
    lefts = pairs.groupBy("w1").agg(F.sum("n_pair").cast("bigint").alias("c1"))
    rights = pairs.groupBy("w2").agg(F.sum("n_pair").cast("bigint").alias("c2"))
    tot = pairs.agg(F.sum("n_pair").cast("bigint").alias("n"))
    return (
        pairs.filter(F.col("n_pair") >= _PMI_MIN_PAIR)
        .join(F.broadcast(lefts), "w1")
        .join(F.broadcast(rights), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n") * F.col("n_pair")).cast("double")
                    / (F.col("c1") * F.col("c2")).cast("double")
                )
                * 10000
            )
            .cast("bigint")
            .alias("pmi_e4"),
        )
        .orderBy(F.col("pmi_e4").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# Shared quality score: alphabetic-character ratio in micro-units.
# ---------------------------------------------------------------------------

def _score_micro() -> Column:
    """round(1e6 * alpha_chars / n_chars) — one IEEE division on exact
    integer inputs, rounded immediately to bigint (engine-exact)."""
    alpha = F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
    return (
        F.round(F.lit(1_000_000.0) * alpha / F.col("n_chars"))
        .cast("bigint")
        .alias("score_micro")
    )


_SCORE_SQL = (
    "CAST(round(1000000.0 * length(regexp_replace(lower(text), '[^a-z]', "
    "'', 'g')) / n_chars) AS BIGINT)"
)

# ---------------------------------------------------------------------------
# Curriculum schedule
# ---------------------------------------------------------------------------

_CURRICULUM_BUDGET = 4_000  # tokens per phase


@register(
    "corpus_curriculum_schedule",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
               {_SCORE_SQL} AS score_micro
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens, score_micro,
               sum(n_tokens) OVER (
                   ORDER BY score_micro DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM scored
    )
    SELECT CAST((cum_tokens - n_tokens) // {_CURRICULUM_BUDGET} AS BIGINT)
               AS phase,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(min(score_micro) AS BIGINT) AS min_score,
           CAST(max(score_micro) AS BIGINT) AS max_score
    FROM cum
    GROUP BY phase
    ORDER BY phase
    """,
    doc="Curriculum schedule (Bengio et al. 2009 data ordering): rank "
        "the corpus by a quality score (alpha-ratio in micro-units), "
        "take the running token sum in rank order, and cut phases every "
        f"{_CURRICULUM_BUDGET} tokens — phase = floor(start_offset / "
        "budget), so each training phase holds a fixed token budget of "
        "progressively lower-quality data. Output is the per-phase "
        "manifest (doc count, token sum, score range). The 100 TB shape: "
        "the running sum EXECUTES as operators/ranks.global_cumsum — "
        "repartitionByRange on (score DESC, doc_id), per-partition "
        "running sums under a PARTITIONED window, and a broadcast P-row "
        "exclusive prefix-offset table — so no stage ever moves the "
        "corpus to a single partition (the unpartitioned-window form "
        "this replaced was the SCALING.md anti-pattern); the phase cut "
        "then never compares rows across partitions again. "
        "Score and phase arithmetic are exact integers (one rounded IEEE "
        "division for the score), so phase boundaries are engine-exact.",
)
def corpus_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import global_cumsum

    scored = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n_tokens"),
        _score_micro(),
    )
    cum = global_cumsum(
        scored,
        [F.col("score_micro").desc(), "doc_id"],
        "n_tokens",
        out_col="cum_tokens",
    )
    return (
        cum.withColumn(
            "phase",
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens"))
                / F.lit(_CURRICULUM_BUDGET)
            ),
        )
        .groupBy("phase")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("score_micro").cast("bigint").alias("min_score"),
            F.max("score_micro").cast("bigint").alias("max_score"),
        )
        .orderBy("phase")
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------

_MV_ADD_OFFSET = 1_000_000_000  # snapshot_diff's re-key offset


@register(
    "mv_incremental_maintenance",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    v2 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(round(o_totalprice * 100)
                    + CASE WHEN o_orderkey % 89 = 0 THEN 100 ELSE 0 END
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + {_MV_ADD_OFFSET} AS k, o_orderstatus AS st,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 101 = 0
    ),
    mv1 AS (
        SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
        FROM v1 GROUP BY st
    ),
    delta AS (
        SELECT COALESCE(v1.st, v2.st) AS st,
               CASE WHEN v1.k IS NULL THEN 1
                    WHEN v2.k IS NULL THEN -1 ELSE 0 END AS dn,
               COALESCE(v2.cents, 0) - COALESCE(v1.cents, 0) AS ds
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
        WHERE v1.k IS NULL OR v2.k IS NULL OR v1.cents <> v2.cents
    ),
    dagg AS (
        SELECT st, CAST(sum(dn) AS BIGINT) AS dn,
               CAST(sum(ds) AS BIGINT) AS ds
        FROM delta GROUP BY st
    ),
    incr AS (
        SELECT COALESCE(mv1.st, dagg.st) AS st,
               COALESCE(mv1.n, 0) + COALESCE(dagg.dn, 0) AS n_incr,
               COALESCE(mv1.s, 0) + COALESCE(dagg.ds, 0) AS s_incr
        FROM mv1 FULL OUTER JOIN dagg ON mv1.st = dagg.st
    ),
    full2 AS (
        SELECT st, count(*) AS n_full, CAST(sum(cents) AS BIGINT) AS s_full
        FROM v2 GROUP BY st
    )
    SELECT f.st AS o_orderstatus,
           n_full, CAST(n_incr AS BIGINT) AS n_incr,
           s_full AS sum_cents_full, CAST(s_incr AS BIGINT) AS sum_cents_incr,
           (n_full = n_incr AND s_full = s_incr) AS match
    FROM full2 f JOIN incr i ON f.st = i.st
    ORDER BY o_orderstatus
    """,
    doc="Incremental materialized-view maintenance (Gupta & Mumick "
        "1995 delta rules): given the v1 per-status aggregate (n, "
        "sum_cents) and the CDC delta between v1 and v2 (the "
        "snapshot_diff planted-edit scheme: every 97th key removed, "
        "every 89th price bumped, every 101st re-added re-keyed), apply "
        "added:+1/+cents, removed:-1/-cents, changed:0/(new-old) per "
        "group and verify IN-PLAN that the maintained view equals the "
        "full v2 recompute — `match` must be TRUE on every row; the "
        "recompute column is the verification harness, not the "
        "production path. The 100 TB shape: the delta is orders of "
        "magnitude smaller than the table, so maintenance costs one "
        "tiny delta aggregate + a merge join on the group key instead "
        "of a full fact re-scan — count/sum/avg-style views maintain "
        "exactly this way (min/max need the documented per-group "
        "re-probe only when the current extremum is deleted). One "
        "physical scan of orders, localCheckpointed, derives v1, both "
        "v2 branches, and both aggregates; all arithmetic is exact "
        "integer cents.",
)
def mv_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).localCheckpoint()  # one fact scan feeds v1, v2, and both aggregates
    v1 = base.select(F.col("o_orderkey").alias("k"), "st", "cents")
    v2 = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            "st",
            (
                F.col("cents")
                + F.when(F.col("o_orderkey") % 89 == 0, 100).otherwise(0)
            ).alias("cents"),
        )
        .unionAll(
            base.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + _MV_ADD_OFFSET).alias("k"),
                "st",
                "cents",
            )
        )
    )
    mv1 = v1.groupBy("st").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("s")
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    delta = j.filter(
        F.col("a.k").isNull()
        | F.col("b.k").isNull()
        | (F.col("a.cents") != F.col("b.cents"))
    ).select(
        F.coalesce("a.st", "b.st").alias("st"),
        F.when(F.col("a.k").isNull(), 1)
        .when(F.col("b.k").isNull(), -1)
        .otherwise(0)
        .alias("dn"),
        (
            F.coalesce("b.cents", F.lit(0)) - F.coalesce("a.cents", F.lit(0))
        ).alias("ds"),
    )
    dagg = delta.groupBy("st").agg(
        F.sum("dn").cast("bigint").alias("dn"),
        F.sum("ds").cast("bigint").alias("ds"),
    )
    incr = (
        mv1.alias("m")
        .join(dagg.alias("d"), F.col("m.st") == F.col("d.st"), "full_outer")
        .select(
            F.coalesce("m.st", "d.st").alias("st"),
            (
                F.coalesce("m.n", F.lit(0)) + F.coalesce("d.dn", F.lit(0))
            ).alias("n_incr"),
            (
                F.coalesce("m.s", F.lit(0)) + F.coalesce("d.ds", F.lit(0))
            ).alias("s_incr"),
        )
    )
    full2 = v2.groupBy("st").agg(
        F.count("*").alias("n_full"),
        F.sum("cents").cast("bigint").alias("s_full"),
    )
    return (
        full2.alias("f")
        .join(F.broadcast(incr.alias("i")), F.col("f.st") == F.col("i.st"))
        .select(
            F.col("f.st").alias("o_orderstatus"),
            "n_full",
            F.col("n_incr").cast("bigint").alias("n_incr"),
            F.col("s_full").alias("sum_cents_full"),
            F.col("s_incr").cast("bigint").alias("sum_cents_incr"),
            (
                (F.col("n_full") == F.col("n_incr"))
                & (F.col("s_full") == F.col("s_incr"))
            ).alias("match"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Preference pairs
# ---------------------------------------------------------------------------

_PAIR_MARGIN_MICRO = 1_000  # required score gap (micro-units)


@register(
    "corpus_preference_pairs",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, source, {_SCORE_SQL} AS score_micro
        FROM documents
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY score_micro DESC, doc_id) AS rb,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY score_micro ASC, doc_id DESC) AS rw
        FROM scored
    ),
    best AS (SELECT lang, source, doc_id AS chosen_id,
                    score_micro AS chosen_score
             FROM ranked WHERE rb = 1),
    worst AS (SELECT lang, source, doc_id AS rejected_id,
                     score_micro AS rejected_score
              FROM ranked WHERE rw = 1)
    SELECT b.lang, b.source, chosen_id, rejected_id,
           chosen_score - rejected_score AS gap_micro
    FROM best b JOIN worst w ON b.lang = w.lang AND b.source = w.source
    WHERE chosen_id <> rejected_id
      AND chosen_score - rejected_score >= {_PAIR_MARGIN_MICRO}
    ORDER BY b.lang, b.source
    """,
    doc="Preference-pair construction (the DPO/RLHF data-prep step): "
        "per (lang, source) group, pair the highest-scoring document "
        "(chosen) against the lowest (rejected), keeping pairs whose "
        f"score gap clears a {_PAIR_MARGIN_MICRO} micro-unit margin — "
        "groups too small or too uniform produce no pair, which is the "
        "correct behavior (a margin-less pair teaches the reward model "
        "nothing). Ties are pinned: equal scores break by doc_id asc for "
        "chosen, desc for rejected, so a fully-uniform group pairs its "
        "extreme ids and is then margin-filtered. The 100 TB shape: ONE "
        "hash shuffle on the group key serves both window ranks (same "
        "partitioning, two sort orders), the extremes join is on the "
        "group key over two one-row-per-group frames, and the documented "
        "escalation for k>1 pairs per group is rank<=k on both ends plus "
        "the anti-overlap filter. Scores are integer micro-units (one "
        "rounded IEEE division), so margins compare exactly.",
)
def corpus_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", _score_micro()
    )
    grp = ["lang", "source"]
    wb = Window.partitionBy(*grp).orderBy(F.col("score_micro").desc(), "doc_id")
    ww = Window.partitionBy(*grp).orderBy(
        F.col("score_micro").asc(), F.col("doc_id").desc()
    )
    ranked = scored.select(
        "*",
        F.row_number().over(wb).alias("rb"),
        F.row_number().over(ww).alias("rw"),
    ).localCheckpoint()  # one shuffle serves both extreme picks
    best = ranked.filter(F.col("rb") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("chosen_id"),
        F.col("score_micro").alias("chosen_score"),
    )
    worst = ranked.filter(F.col("rw") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("rejected_id"),
        F.col("score_micro").alias("rejected_score"),
    )
    return (
        best.join(worst, grp)
        .filter(
            (F.col("chosen_id") != F.col("rejected_id"))
            & (
                F.col("chosen_score") - F.col("rejected_score")
                >= _PAIR_MARGIN_MICRO
            )
        )
        .select(
            "lang",
            "source",
            "chosen_id",
            "rejected_id",
            (F.col("chosen_score") - F.col("rejected_score")).alias(
                "gap_micro"
            ),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Lexical diversity
# ---------------------------------------------------------------------------

@register(
    "text_lexical_diversity",
    oracle="""
    WITH toku AS (
        SELECT lang,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    tc AS (SELECT lang, tok, count(*) AS c FROM toku GROUP BY 1, 2)
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
           CAST(round(1000000.0 * count(*) / sum(c)) AS BIGINT) AS ttr_micro
    FROM tc GROUP BY lang ORDER BY lang
    """,
    doc="Lexical diversity per language: type-token ratio (distinct "
        "types / total tokens, micro-units) and hapax-legomena count "
        "(types seen exactly once) — standard corpus-QA signals next to "
        "corpus_zipf_slope; a shard whose TTR or hapax rate diverges "
        "from its language's band is boilerplate-flooded or "
        "wrongly-language-tagged. The 100 TB shape: tokenize is "
        "map-side explode; the (lang, token) count is ONE "
        "partial-aggregatable shuffle whose key space is the vocabulary "
        "x languages (bounded, small), and the per-language rollup runs "
        "over that bounded frame — the corpus is scanned once and never "
        "re-visited. The single TTR division is one IEEE op on exact "
        "bigints, rounded immediately.",
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    toku = table(spark, sf_dir, "documents").select(
        "lang",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    tc = toku.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    return (
        tc.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            F.round(F.lit(1_000_000.0) * F.count("*") / F.sum("c"))
            .cast("bigint")
            .alias("ttr_micro"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Gini concentration
# ---------------------------------------------------------------------------

@register(
    "agg_gini_concentration",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS c FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c, source) AS i FROM counts
    ),
    agg AS (
        SELECT count(*) AS n,
               CAST(sum(c) AS BIGINT) AS total,
               CAST(max(c) AS BIGINT) AS max_c,
               CAST(sum(i * c) AS BIGINT) AS s_ic
        FROM ranked
    )
    SELECT n AS n_groups, total AS n_docs,
           CAST(round(1000000.0 * (2 * s_ic - (n + 1) * total)
                      / (n * total)) AS BIGINT) AS gini_micro,
           CAST(round(1000000.0 * max_c / total) AS BIGINT) AS top_share_micro
    FROM agg
    """,
    doc="Gini concentration of documents across sources: the standard "
        "inequality coefficient gini = sum_i((2i - n - 1) * x_i) / "
        "(n * sum x) over counts sorted ascending (rank-form identity, "
        "computed as 2*sum(i*x) - (n+1)*total), plus the top-source "
        "share — the 'is one domain dominating my mix' audit that "
        "motivates corpus_domain_cap's cap value. The 100 TB shape: the "
        "per-source count is one partial-aggregatable shuffle; the rank "
        "window and final fold run over the DISTINCT-SOURCE frame "
        "(domains, not documents — bounded), so the corpus is scanned "
        "exactly once. All sums are exact bigints; the two closing "
        "divisions are single IEEE ops on exactly-representable "
        "integers, rounded immediately to micro-units.",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("c"))
    )
    ranked = counts.select(
        "c", F.row_number().over(Window.orderBy("c", "source")).alias("i")
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("c").cast("bigint").alias("total"),
        F.max("c").cast("bigint").alias("max_c"),
        F.sum(F.col("i") * F.col("c")).cast("bigint").alias("s_ic"),
    )
    return agg.select(
        F.col("n").alias("n_groups"),
        F.col("total").alias("n_docs"),
        F.round(
            F.lit(1_000_000.0)
            * (2 * F.col("s_ic") - (F.col("n") + 1) * F.col("total"))
            / (F.col("n") * F.col("total"))
        )
        .cast("bigint")
        .alias("gini_micro"),
        F.round(F.lit(1_000_000.0) * F.col("max_c") / F.col("total"))
        .cast("bigint")
        .alias("top_share_micro"),
    )
