"""Round-8 third batch: distributed BPE ENCODING — applying a learned
merge table to the corpus, the operator a training-data pipeline runs
most often (learning happens once; encoding happens on every shard of
every crawl).

``tokenizer_bpe_pairs`` counts first-round pairs and
``tokenizer_bpe_learn`` learns the merge table; this closes the family:
learn the same ``_BPE_ROUNDS`` merges, APPLY them to every word type,
and report the encoded token-frequency table with two in-plan
guarantees:

- character-mass conservation: merges concatenate symbols but never
  create or destroy characters, so sum(len(token) * occurrences) over
  the encoded corpus must equal sum(len(word) * count) over the raw
  vocabulary — an exact bigint invariant checked inside the plan
  (``mass_ok``), the same IN-PLAN verdict convention as
  ``agg_misra_gries_topk`` / ``events_active_users_sketch``;
- fertility: encoded tokens per raw word in exact integer per-mille
  (``fertility_milli``), the tokenizer-quality number every vocab-size
  ablation tracks (cf. tokenizer_vocab_coverage's per-language OOV
  convention — positive integer floor-div on both engines).

Encoding strategy (the 100 TB shape): the corpus collapses ONCE to the
weighted word-TYPE vocabulary — types, not tokens, cross every later
shuffle, the standard BPE-at-scale reduction — then each merge rank is
ONE literal string replacement over the delimiter-embedded symbol
string ("h<US>e<US>l<US>l<US>o<US>", US = chr(31)).  Because the
delimiter lives inside each symbol's cell, adjacent occurrences share
no characters and both engines' greedy left-to-right non-overlapping
replace implements exactly BPE's rank-order merge semantics — applying
merge r exhaustively before merge r+1 IS how BPE encodes (merges apply
in learned priority order), so the encode trajectory replays the
training trajectory verbatim.  No UDFs; every count is an exact
bigint.  The merge table is a broadcast 1-row frame per rank; the only
corpus-scale stages are the initial word-type collapse and the final
token-frequency aggregate, both partial-combining hash aggregates.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py has no tokenizer); this is extended training-data surface.
Float discipline (plans/queries.py header): zero floats anywhere —
counts, lengths, mass totals and the per-mille fertility are all
exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .llm_round6c import _BPE_ROUNDS, _BPE_SEP
from .registry import register

_ENC_TOPK = 48


def _bpe_encode_oracle() -> str:
    sep = "chr(31)"
    parts = [f"""
    WITH words AS (
        SELECT word, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                AS word
            FROM documents) t
        WHERE word <> ''
        GROUP BY 1
    ),
    w0 AS (
        SELECT regexp_replace(word, '(.)', '\\1' || {sep}, 'g') AS s, c
        FROM words
    )"""]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
    , p{r} AS (
        SELECT pr[1] AS a, pr[2] AS b, c
        FROM (
            SELECT unnest(CASE WHEN len(l) >= 3
                               THEN [[l[i], l[i+1]]
                                     FOR i IN range(1, len(l) - 1)]
                               ELSE [] END) AS pr, c
            FROM (SELECT string_split(s, {sep}) AS l, c FROM w{r - 1}) x) u
    ),
    t{r} AS (
        SELECT a, b, CAST(sum(c) AS BIGINT) AS freq
        FROM p{r} GROUP BY 1, 2
        ORDER BY freq DESC, a, b LIMIT 1
    ),
    w{r} AS (
        SELECT replace(w.s, t.a || {sep} || t.b || {sep},
                       t.a || t.b || {sep}) AS s, w.c
        FROM w{r - 1} w CROSS JOIN t{r} t
    )""")
    parts.append(f"""
    , toks AS (
        SELECT unnest(string_split(s, {sep})) AS token, c
        FROM w{_BPE_ROUNDS}
    ),
    tf AS (
        SELECT token, CAST(sum(c) AS BIGINT) AS occ
        FROM toks WHERE token <> '' GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(occ) AS BIGINT) AS n_toks,
               CAST(sum(len(token) * occ) AS BIGINT) AS chars_enc
        FROM tf
    ),
    corpus AS (
        SELECT CAST(sum(len(word) * c) AS BIGINT) AS chars_raw,
               CAST(sum(c) AS BIGINT) AS n_words
        FROM words
    ),
    topk AS (
        SELECT token, occ FROM tf
        ORDER BY occ DESC, token LIMIT {_ENC_TOPK}
    )
    SELECT k.token,
           k.occ,
           CAST(len(k.token) AS INT) AS n_chars,
           (t.n_toks * 1000) // g.n_words AS fertility_milli,
           t.chars_enc = g.chars_raw AS mass_ok
    FROM topk k CROSS JOIN tot t CROSS JOIN corpus g
    ORDER BY k.occ DESC, k.token""")
    return "\n".join(parts)


@register(
    "tokenizer_bpe_encode",
    oracle=_bpe_encode_oracle(),
    doc=f"Distributed BPE encoding: learn the same {_BPE_ROUNDS} merges "
        "as tokenizer_bpe_learn (identical loop, identical tie pins), "
        "then APPLY them to every word type in rank order — each merge "
        "is one literal replacement over the delimiter-embedded symbol "
        "string, so the encode replays the training trajectory exactly "
        "with zero UDFs — and report the encoded token-frequency top-"
        f"{_ENC_TOPK} (freq desc, token asc pinned) with the global "
        "exact-integer fertility (encoded tokens per word, per-mille) "
        "and an IN-PLAN character-mass-conservation verdict (merges "
        "never create or destroy characters: sum(len(token)*occ) must "
        "equal the raw corpus character mass). The 100 TB shape: the "
        "corpus collapses ONCE to weighted word TYPES (the standard "
        "BPE-at-scale reduction — types, not tokens, cross the merge "
        "loop); each rank is a broadcast 1-row merge rule + map-only "
        "string replace; the final frequency table is one partial-"
        "combining hash aggregate and the top-k is "
        "TakeOrderedAndProject, never a global sort.",
)
def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    sep = _BPE_SEP
    raw = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()  # feeds the merge loop AND the corpus mass
    )
    corpus = raw.groupBy().agg(
        F.sum(F.length("word") * F.col("c")).cast("bigint").alias("chars_raw"),
        F.sum("c").cast("bigint").alias("n_words"),
    )
    # No checkpoint here: raw is already materialized above and this is a
    # single-consumer one-projection derivative — the merge loop re-
    # checkpoints every round anyway, so a second materialization of the
    # full word-type frame buys nothing.
    cur = raw.select(
        F.regexp_replace("word", "(.)", "$1" + sep).alias("s"), "c"
    )
    for _ in range(_BPE_ROUNDS):
        l = F.split(F.col("s"), sep)
        pairs = cur.select(
            F.explode(
                F.when(
                    F.size(l) >= 3,
                    F.transform(
                        F.sequence(F.lit(1), F.size(l) - 2),
                        lambda i: F.struct(
                            F.element_at(l, i).alias("a"),
                            F.element_at(l, i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<a:string,b:string>>")
                )
            ).alias("pr"),
            "c",
        )
        top = (
            pairs.groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("c").cast("bigint").alias("freq"))
            .orderBy(F.col("freq").desc(), "a", "b")
            .limit(1)
        )
        cur = (
            cur.crossJoin(F.broadcast(top))
            .select(
                F.replace(
                    F.col("s"),
                    F.concat(F.col("a"), F.lit(sep), F.col("b"), F.lit(sep)),
                    F.concat(F.col("a"), F.col("b"), F.lit(sep)),
                ).alias("s"),
                "c",
            )
            .localCheckpoint()
        )
    tf = (
        cur.select(F.explode(F.split("s", sep)).alias("token"), "c")
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.sum("c").cast("bigint").alias("occ"))
        .localCheckpoint()  # feeds the totals AND the top-k
    )
    tot = tf.groupBy().agg(
        F.sum("occ").cast("bigint").alias("n_toks"),
        F.sum(F.length("token") * F.col("occ")).cast("bigint").alias("chars_enc"),
    )
    topk = tf.orderBy(F.desc("occ"), F.asc("token")).limit(_ENC_TOPK)
    return (
        topk.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(corpus))
        .select(
            "token",
            "occ",
            F.length("token").cast("int").alias("n_chars"),
            F.expr("(n_toks * 1000) div n_words").alias("fertility_milli"),
            (F.col("chars_enc") == F.col("chars_raw")).alias("mass_ok"),
        )
        .orderBy(F.desc("occ"), F.asc("token"))
    )


# ---------------------------------------------------------------------------
# Per-language fertility audit
# ---------------------------------------------------------------------------


def _fertility_oracle() -> str:
    sep = "chr(31)"
    parts = [f"""
    WITH words AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT lang,
                   unnest(string_split_regex(trim(lower(text)), '\\s+'))
                AS word
            FROM documents) t
        WHERE word <> ''
        GROUP BY 1, 2
    ),
    w0 AS (
        SELECT lang, regexp_replace(word, '(.)', '\\1' || {sep}, 'g') AS s, c
        FROM words
    )"""]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
    , p{r} AS (
        SELECT pr[1] AS a, pr[2] AS b, c
        FROM (
            SELECT unnest(CASE WHEN len(l) >= 3
                               THEN [[l[i], l[i+1]]
                                     FOR i IN range(1, len(l) - 1)]
                               ELSE [] END) AS pr, c
            FROM (SELECT string_split(s, {sep}) AS l, c FROM w{r - 1}) x) u
    ),
    t{r} AS (
        SELECT a, b FROM (
            SELECT a, b, CAST(sum(c) AS BIGINT) AS freq
            FROM p{r} GROUP BY 1, 2
            ORDER BY freq DESC, a, b LIMIT 1)
    ),
    w{r} AS (
        SELECT w.lang,
               replace(w.s, t.a || {sep} || t.b || {sep},
                       t.a || t.b || {sep}) AS s, w.c
        FROM w{r - 1} w CROSS JOIN t{r} t
    )""")
    parts.append(f"""
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_words,
           CAST(sum((len(s) - len(replace(s, {sep}, ''))) * c) AS BIGINT)
               AS n_tokens,
           (CAST(sum((len(s) - len(replace(s, {sep}, ''))) * c) AS BIGINT)
                * 1000) // CAST(sum(c) AS BIGINT)
               AS fertility_milli
    FROM w{_BPE_ROUNDS}
    GROUP BY lang
    ORDER BY lang""")
    return "\n".join(parts)


@register(
    "tokenizer_fertility_by_lang",
    oracle=_fertility_oracle(),
    doc=f"Per-language tokenizer fertility under the SAME {_BPE_ROUNDS} "
        "learned merges as tokenizer_bpe_learn/encode — the XLM-R-style "
        "fairness audit (companion to tokenizer_vocab_coverage's OOV "
        "side): a language whose fertility stays far above the others "
        "is the one the merge table underserves, the number that drives "
        "per-language vocab-budget decisions. The corpus collapses ONCE "
        "to (lang, word-type) rows; each round's pair counts aggregate "
        "over ALL rows (per-language duplicates of a word sum to the "
        "same global pair totals, so the merge picks are IDENTICAL to "
        "the global learn trajectory — same ties, same pins), and the "
        "merge applies as the delimiter-embedded literal replace. "
        "Token counts come from symbol counts (separators per cell), "
        "zero UDFs, exact integers; fertility is positive-int floor "
        "div per-mille. The 100 TB shape: the only corpus-scale stage "
        "is the (lang, word) collapse; rounds move type frames.",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    sep = _BPE_SEP
    cur = (
        table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"),
        )
        .where(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(
            "lang",
            F.regexp_replace("word", "(.)", "$1" + sep).alias("s"),
            "c",
        )
        .localCheckpoint()
    )
    for _ in range(_BPE_ROUNDS):
        l = F.split(F.col("s"), sep)
        pairs = cur.select(
            F.explode(
                F.when(
                    F.size(l) >= 3,
                    F.transform(
                        F.sequence(F.lit(1), F.size(l) - 2),
                        lambda i: F.struct(
                            F.element_at(l, i).alias("a"),
                            F.element_at(l, i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<a:string,b:string>>")
                )
            ).alias("pr"),
            "c",
        )
        top = (
            pairs.groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("c").cast("bigint").alias("freq"))
            .orderBy(F.col("freq").desc(), "a", "b")
            .limit(1)
            .select("a", "b")
        )
        cur = (
            cur.crossJoin(F.broadcast(top))
            .select(
                "lang",
                F.replace(
                    F.col("s"),
                    F.concat(F.col("a"), F.lit(sep), F.col("b"), F.lit(sep)),
                    F.concat(F.col("a"), F.col("b"), F.lit(sep)),
                ).alias("s"),
                "c",
            )
            .localCheckpoint()
        )
    ntok = F.length("s") - F.length(F.replace(F.col("s"), F.lit(sep), F.lit("")))
    return (
        cur.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_words"),
            F.sum(ntok * F.col("c")).cast("bigint").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("(n_tokens * 1000) div n_words").alias("fertility_milli"),
        )
        .orderBy("lang")
    )
