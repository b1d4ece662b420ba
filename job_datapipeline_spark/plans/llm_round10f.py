"""Round-10 sixth batch: unigram-LM tokenizer ENCODE (inference).

``tokenizer_unigram_lm`` (r9) TRAINS a unigram vocabulary;
``tokenizer_bpe_encode`` (r8) applies a BPE merge table.  The missing
quadrant is unigram INFERENCE: segment a corpus against a FIXED,
already-trained piece inventory — the shape every tokenization job at
100 TB actually runs (the vocabulary is a tiny artifact loaded from
storage; training happened once, elsewhere).

The vocabulary here is a pinned literal piece list (multi-char pieces
with integer micro-nat costs — domain words of this corpus plus
sub-word units like 'er'/'st'/'ow' so longer words genuinely compose)
plus SentencePiece's BYTE-FALLBACK: every single character observed in
the corpus is a piece at a deliberately expensive fixed cost, so every
word is segmentable and fallback usage is a MEASURED quality signal,
not a crash.  Viterbi segmentation per word TYPE via the shared JVM
fold (operators/unigram.segment_words — one ``aggregate`` per type,
ties fully pinned); the word-type frame crosses the fold, never the
token stream.

Output is the per-language tokenizer scorecard: fertility
(pieces per word, milli), char-fallback share of emitted pieces
(permille), distinct word types, token counts — with an in-plan
``all_segmentable`` verdict (char fallback makes it structurally true;
the verdict certifies the plumbing, the DuckDB oracle brute-forces
every 2^(n-1) cut mask to certify the fold IS the argmin).

Reference parity: none (no tokenizer in the reference); completes the
tokenizer family mandated by the LLM-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import literal_dim, table
from ..operators.unigram import segment_words
from .registry import register

_UENC_MAX_WORD = 12
_UENC_MAX_PIECE = 6
_UENC_CHAR_COST = 8_000_000  # byte-fallback micro-nats (expensive on purpose)

# The fixed inventory: (piece, micro-nat cost).  Pinned literals — the
# trained-artifact contract of inference; costs ascend with rarity and
# sub-word units price between whole words and the char fallback.
_UENC_VOCAB = (
    ("join", 2_000_000), ("hash", 2_050_000), ("scan", 2_100_000),
    ("data", 2_150_000), ("row", 2_200_000), ("batch", 2_250_000),
    ("column", 2_280_000), ("custom", 2_300_000), ("filter", 2_320_000),
    ("stream", 2_350_000), ("window", 2_370_000), ("order", 2_400_000),
    ("value", 2_450_000), ("table", 2_470_000), ("group", 2_500_000),
    ("key", 2_600_000), ("part", 2_650_000), ("merge", 2_700_000),
    ("er", 3_000_000), ("le", 3_050_000), ("in", 3_100_000),
    ("st", 3_150_000), ("re", 3_200_000), ("an", 3_250_000),
    ("al", 3_300_000), ("or", 3_350_000), ("ow", 3_400_000),
)

_SQL_VOCAB_ROWS = ", ".join(f"('{p}', {c})" for p, c in _UENC_VOCAB)


@register(
    "tokenizer_unigram_encode",
    oracle=f"""
    WITH words AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS c, len(word) AS n
        FROM (SELECT lang,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                         AS word
              FROM documents) t
        WHERE word <> '' AND len(word) <= {_UENC_MAX_WORD}
        GROUP BY lang, word
    ),
    types AS (
        SELECT word, CAST(sum(c) AS BIGINT) AS c, max(n) AS n
        FROM words GROUP BY 1
    ),
    multi(piece, cost) AS (VALUES {_SQL_VOCAB_ROWS}),
    chars AS (
        SELECT DISTINCT substring(word, i, 1) AS piece,
               CAST({_UENC_CHAR_COST} AS BIGINT) AS cost
        FROM types, LATERAL (SELECT unnest(range(1, n + 1)) AS i)
    ),
    vocab AS (
        SELECT piece, CAST(cost AS BIGINT) AS cost FROM multi
        UNION ALL SELECT piece, cost FROM chars
    ),
    masks AS (
        SELECT word, c, n,
               unnest(range(0, CAST(1 << (n - 1) AS BIGINT))) AS mask
        FROM types
    ),
    mseg AS (
        SELECT word, c, mask, pieces, len(pieces) AS np,
               array_to_string(pieces, ' ') AS seg
        FROM (
            SELECT word, c, mask,
                   [substring(word, b[i] + 1, b[i + 1] - b[i])
                    FOR i IN range(1, len(b))] AS pieces
            FROM (
                SELECT word, c, mask, n,
                       [0] || [i FOR i IN range(1, n)
                               IF ((mask >> (i - 1)) & 1) = 1] || [n] AS b
                FROM masks) x) y
        WHERE list_max([len(p) FOR p IN pieces]) <= {_UENC_MAX_PIECE}
    ),
    mp AS (SELECT word, mask, unnest(pieces) AS piece FROM mseg),
    sc AS (
        SELECT mp.word, mp.mask, CAST(sum(v.cost) AS BIGINT) AS sc,
               count(*) AS matched
        FROM mp JOIN vocab v USING (piece)
        GROUP BY 1, 2
    ),
    best AS (
        SELECT word, seg FROM (
            SELECT m.word, m.seg,
                   row_number() OVER (PARTITION BY m.word
                                      ORDER BY s.sc, m.np, m.seg) AS rn
            FROM mseg m
            JOIN sc s ON s.word = m.word AND s.mask = m.mask
                     AND s.matched = m.np) z
        WHERE rn = 1
    ),
    stats AS (
        SELECT word, len(string_split(seg, ' ')) AS np,
               len([p FOR p IN string_split(seg, ' ') IF len(p) = 1])
                   AS n_fallback
        FROM best
    )
    SELECT w.lang,
           CAST(sum(w.c) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT w.word) AS BIGINT) AS n_types,
           CAST(round(sum(w.c * s.np) * 1000.0 / sum(w.c)) AS BIGINT)
               AS fertility_milli,
           CAST(round(sum(w.c * s.n_fallback) * 1000.0 / sum(w.c * s.np))
                AS BIGINT) AS char_fallback_permille,
           (SELECT count(*) FROM types t LEFT JOIN best b USING (word)
            WHERE b.word IS NULL) = 0 AS all_segmentable
    FROM words w JOIN stats s USING (word)
    GROUP BY 1 ORDER BY 1
    """,
    doc="Unigram-LM tokenizer ENCODE — inference against a FIXED pinned "
        "vocabulary (27 literal multi-char pieces with integer micro-nat "
        "costs + SentencePiece byte-fallback: every observed character at "
        "a deliberately expensive fixed cost, so every word segments and "
        "fallback usage becomes a measured quality signal). TRUE Viterbi "
        "per word TYPE via the shared JVM aggregate fold "
        "(operators/unigram.segment_words, ties pinned by cost/pieces/"
        "seg); only word types cross the fold, never the token stream. "
        "Output: per-language fertility (pieces/word, milli), char-"
        "fallback share (permille), type/token counts, all_segmentable "
        "verdict. The DuckDB oracle brute-forces every 2^(n-1) cut mask "
        "to certify the fold is the argmin. 100 TB shape: the vocabulary "
        "is a broadcast artifact; the cost is one word-type aggregate "
        "plus a bounded per-type fold — the canonical tokenize-the-"
        "corpus job.",
)
def tokenizer_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"),
        )
        .where((F.col("word") != "") & (F.length("word") <= _UENC_MAX_WORD))
        .groupBy("lang", "word")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()  # feeds the type grid AND the per-lang rollup
    )
    types = words.groupBy("word").agg(F.sum("c").cast("bigint").alias("c"))
    cand = (
        types.select(
            "word", "c",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("j"),
        )
        .select(
            "word", "c", "j",
            F.explode(
                F.sequence(F.lit(1), F.least(F.lit(_UENC_MAX_PIECE), F.col("j")))
            ).alias("k"),
        )
        .withColumn("piece", F.expr("substring(word, j - k + 1, k)"))
    )
    multi = literal_dim(
        spark, list(_UENC_VOCAB), "piece string, cost bigint"
    )
    chars = (
        types.select(
            F.explode(F.split("word", "")).alias("piece")
        )
        .where(F.col("piece") != "")
        .distinct()
        .select("piece", F.lit(_UENC_CHAR_COST).cast("bigint").alias("cost"))
    )
    vocab = multi.unionByName(chars).localCheckpoint()  # bounded artifact

    seg = segment_words(cand, vocab)
    stats = seg.select(
        "word",
        F.size(F.split("seg", " ")).alias("np"),
        F.size(F.filter(F.split("seg", " "), lambda p: F.length(p) == 1)).alias(
            "n_fallback"
        ),
    )
    # all word types segmented? (char fallback makes this structurally
    # true; the verdict certifies the join plumbing end-to-end)
    cover = (
        types.join(stats.select("word", F.lit(True).alias("_seen")), "word", "left")
        .agg((F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)) == 0).alias(
            "all_segmentable"
        ))
    )
    return (
        words.join(F.broadcast(stats), "word")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.countDistinct("word").cast("bigint").alias("n_types"),
            F.round(F.sum(F.col("c") * F.col("np")) * 1000.0 / F.sum("c"))
            .cast("bigint")
            .alias("fertility_milli"),
            F.round(
                F.sum(F.col("c") * F.col("n_fallback")) * 1000.0
                / F.sum(F.col("c") * F.col("np"))
            )
            .cast("bigint")
            .alias("char_fallback_permille"),
        )
        .crossJoin(F.broadcast(cover))
        .orderBy("lang")
    )
