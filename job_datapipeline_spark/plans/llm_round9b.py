"""Round-9 second batch: unigram-LM (SentencePiece-style) tokenizer
training — the OTHER tokenizer real pipelines train, completing the
family next to BPE learn/encode/pairs/coverage/fertility.

Kudo 2018 (arXiv:1804.10959) trains a unigram language model over a
seed vocabulary of frequent substrings, alternating (E) Viterbi
segmentation of the corpus under current piece probabilities with
(M) re-estimation from piece usage, pruning the least-useful pieces
each round.  This implementation keeps that loop's exact structure —
seed from substring counts, bounded EM-prune rounds, per-round
re-normalized piece costs, single characters never pruned (coverage
guarantee) — with every arithmetic step pinned for cross-engine
replay:

- Piece costs are INTEGER micro-nats (round(-ln p * 1e6)), so Viterbi
  path scores are exact bigint sums — order-independent, no float
  drift between engines.
- Viterbi ties are fully pinned lexicographically by (total cost ASC,
  piece count ASC, segmentation text ASC).  The DP keeps one best
  tuple per prefix; optimal substructure holds for this order because
  extensions add identical (cost, count) increments and equal-length
  prefix strings compare stably.
- The Spark side runs TRUE Viterbi: per word type, one `aggregate`
  fold over character positions whose accumulator is the dp array of
  (cost, n_pieces, seg) structs, with candidate edges (the substrings
  that are vocabulary pieces) pre-joined per word.  All JVM-side
  higher-order functions — no UDF, no explosion in word length.
- The DuckDB oracle brute-forces every segmentation (cut-mask
  enumeration, piece length <= {max_piece}) and picks the same pinned
  argmin — an independent check that the DP IS the argmin, not just a
  replay of it.

Scale shape: the corpus collapses ONCE to weighted word TYPES (the
same reduction as tokenizer_bpe_learn — types, not tokens, cross the
EM loop); each round is a broadcast of the (bounded, <= chars +
{seed_topk}) vocabulary against the checkpointed candidate grid, one
fold, and two tiny aggregates.  Word types longer than {max_word}
chars are excluded here (at 100 TB they take the char-fallback path);
on this corpus no type exceeds it, so the mass-conservation verdict
covers the whole corpus.

Reference parity: none (the reference has no tokenizer); mandated by
the LLM-pipeline brief and round-8 verdict item 5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.unigram import segment_words as _segment
from .registry import register

_ULM_ROUNDS = 2        # EM prune rounds; the final inventory pass is a 3rd
_ULM_MAX_PIECE = 4     # max piece length (seed substrings 1..4 chars)
_ULM_MAX_WORD = 12     # word types longer than this take the char fallback
_ULM_SEED_TOPK = 25    # multi-char seed pieces kept (chars always kept)
_ULM_PRUNE_NUM = 1     # prune floor(n_multi / 5) per round (20%)
_ULM_PRUNE_DEN = 5


def _ulm_oracle() -> str:
    """Brute-force replay: enumerate every segmentation via cut masks,
    score with the same integer micro-nat costs, pick the same pinned
    argmin, run the same M-step/prune chain."""
    head = f"""
    WITH words AS (
        SELECT word, CAST(count(*) AS BIGINT) AS c, len(word) AS n
        FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                  AS word
              FROM documents) t
        WHERE word <> '' AND len(word) <= {_ULM_MAX_WORD}
        GROUP BY 1
    ),
    cand AS (
        SELECT word, c, substring(word, j - k + 1, k) AS piece
        FROM (
            SELECT word, c, j,
                   unnest(range(1, least({_ULM_MAX_PIECE}, j) + 1)) AS k
            FROM (SELECT word, c,
                         unnest(range(1, n + 1)) AS j
                  FROM words) a) b
    ),
    seed AS (SELECT piece, CAST(sum(c) AS BIGINT) AS cnt
             FROM cand GROUP BY 1),
    chars AS (SELECT piece FROM seed WHERE len(piece) = 1),
    v0sel AS (
        SELECT piece, cnt FROM seed WHERE len(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt DESC, piece) AS rn
            FROM seed WHERE len(piece) >= 2) x
        WHERE rn <= {_ULM_SEED_TOPK}
    ),
    v0 AS (
        SELECT piece,
               CAST(round(-ln(CAST(cnt AS DOUBLE) / z) * 1000000.0)
                    AS BIGINT) AS cost
        FROM v0sel, (SELECT CAST(sum(cnt) AS DOUBLE) AS z FROM v0sel) t
    ),
    masks AS (
        SELECT word, c, n,
               unnest(range(0, CAST(1 << (n - 1) AS BIGINT))) AS mask
        FROM words
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
        WHERE list_max([len(p) FOR p IN pieces]) <= {_ULM_MAX_PIECE}
    ),
    mp AS (SELECT word, mask, unnest(pieces) AS piece FROM mseg)"""
    rounds = []
    for r in range(1, _ULM_ROUNDS + 2):  # R EM rounds + final inventory
        prev = f"v{r - 1}"
        rounds.append(f"""
    , sc{r} AS (
        SELECT mp.word, mp.mask, CAST(sum(v.cost) AS BIGINT) AS sc,
               count(*) AS matched
        FROM mp JOIN {prev} v USING (piece)
        GROUP BY 1, 2
    ),
    best{r} AS (
        SELECT word, c, seg FROM (
            SELECT m.word, m.c, m.seg,
                   row_number() OVER (PARTITION BY m.word
                                      ORDER BY s.sc, m.np, m.seg) AS rn
            FROM mseg m
            JOIN sc{r} s ON s.word = m.word AND s.mask = m.mask
                        AND s.matched = m.np) z
        WHERE rn = 1
    ),
    usage{r} AS (
        SELECT piece, CAST(sum(c) AS BIGINT) AS usage,
               CAST(count(DISTINCT word) AS BIGINT) AS n_words
        FROM (SELECT word, c, unnest(string_split(seg, ' ')) AS piece
              FROM best{r}) t
        GROUP BY 1
    )""")
        if r <= _ULM_ROUNDS:
            rounds.append(f"""
    , all{r} AS (
        SELECT piece, usage FROM usage{r}
        UNION ALL
        SELECT ch.piece, CAST(0 AS BIGINT) FROM chars ch
        WHERE ch.piece NOT IN (SELECT piece FROM usage{r})
    ),
    pr{r} AS (
        SELECT piece, usage + 1 AS ua FROM all{r}
        WHERE len(piece) = 1 OR piece NOT IN (
            SELECT piece FROM (
                SELECT piece,
                       row_number() OVER (ORDER BY usage, piece) AS rn,
                       count(*) OVER () AS nm
                FROM all{r} WHERE len(piece) >= 2) x
            WHERE rn <= nm * {_ULM_PRUNE_NUM} // {_ULM_PRUNE_DEN})
    ),
    v{r} AS (
        SELECT piece,
               CAST(round(-ln(CAST(ua AS DOUBLE) / z) * 1000000.0)
                    AS BIGINT) AS cost
        FROM pr{r}, (SELECT CAST(sum(ua) AS DOUBLE) AS z FROM pr{r}) t
    )""")
    fin = _ULM_ROUNDS + 1
    tail = f"""
    SELECT u.piece, u.usage, u.n_words, v.cost AS cost_micro,
           (SELECT CAST(sum(usage * len(piece)) AS BIGINT) FROM usage{fin})
               = (SELECT CAST(sum(c * n) AS BIGINT) FROM words)
               AS mass_conserved
    FROM usage{fin} u JOIN v{_ULM_ROUNDS} v USING (piece)
    ORDER BY u.usage DESC, u.piece"""
    return head + "".join(rounds) + tail


def _mstep_prune(spark_usage: DataFrame, chars: DataFrame) -> DataFrame:
    """(piece, cost): add-one smoothed re-normalized micro-nat costs over
    the surviving vocabulary — used pieces plus ALL single chars, minus
    the bottom 1/5 of multi-char pieces by (usage ASC, piece ASC)."""
    unused_chars = chars.join(spark_usage, "piece", "left_anti").select(
        "piece", F.lit(0).cast("long").alias("usage")
    )
    allp = spark_usage.select("piece", "usage").unionByName(unused_chars)
    # Bounded global window: the candidate vocabulary never exceeds
    # chars + _ULM_SEED_TOPK pieces by construction (seed cap; EM only
    # shrinks it), so the single-partition rank is over a tiny frame.
    wm = Window.orderBy(F.asc("usage"), F.asc("piece"))
    multi = (
        allp.filter(F.length("piece") >= 2)
        .withColumn("_rn", F.row_number().over(wm))
        .withColumn("_nm", F.count("*").over(Window.partitionBy()))
    )
    survivors_multi = multi.filter(
        F.col("_rn") > (F.col("_nm") * _ULM_PRUNE_NUM) / _ULM_PRUNE_DEN
    ).select("piece", "usage")
    pruned = (
        allp.filter(F.length("piece") == 1)
        .select("piece", "usage")
        .unionByName(survivors_multi)
        .withColumn("ua", F.col("usage") + 1)
    )
    z = pruned.agg(F.sum("ua").cast("double").alias("_z"))
    return (
        pruned.crossJoin(F.broadcast(z))
        .select(
            "piece",
            F.round(-F.log(F.col("ua").cast("double") / F.col("_z")) * 1e6)
            .cast("long")
            .alias("cost"),
        )
        .localCheckpoint()  # chain: each round's vocab cuts prior lineage
    )


@register(
    "tokenizer_unigram_lm",
    oracle=_ulm_oracle(),
    doc=f"Unigram-LM (SentencePiece, Kudo 2018) tokenizer training: seed "
        f"vocabulary = all chars + top-{_ULM_SEED_TOPK} substrings (len "
        f"<= {_ULM_MAX_PIECE}) by weighted count, then {_ULM_ROUNDS} "
        "EM-prune rounds — (E) TRUE Viterbi segmentation of every word "
        "type under integer micro-nat piece costs via ONE `aggregate` "
        "fold whose accumulator is the dp array (no UDF, linear in word "
        "length), ties pinned by (cost, piece count, segmentation text); "
        "(M) add-one re-normalized costs over used pieces + all chars, "
        "bottom 20% of multi-char pieces pruned (chars never — the "
        "coverage guarantee). Output: the final segmentation's piece "
        "inventory (usage, document words, cost) with an in-plan "
        "character-mass-conservation verdict. The oracle BRUTE-FORCES "
        "every segmentation (cut-mask enumeration) and picks the same "
        "pinned argmin — certifying the dp is the true argmin, not a "
        "replay. 100 TB shape: corpus collapses once to weighted word "
        "types (the tokenizer_bpe_learn reduction); every round is a "
        "broadcast of the bounded vocab + one fold + tiny aggregates; "
        "integer path scores make results engine-exact.",
)
def tokenizer_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
        .where((F.col("word") != "") & (F.length("word") <= _ULM_MAX_WORD))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()  # feeds the candidate grid AND the mass check
    )
    cand = (
        words.select(
            "word", "c",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("j"),
        )
        .select(
            "word", "c", "j",
            F.explode(
                F.sequence(F.lit(1), F.least(F.lit(_ULM_MAX_PIECE), F.col("j")))
            ).alias("k"),
        )
        .withColumn("piece", F.expr("substring(word, j - k + 1, k)"))
        .localCheckpoint()  # one substring grid serves seed + every round
    )
    seed = cand.groupBy("piece").agg(F.sum("c").cast("bigint").alias("cnt"))
    chars = seed.filter(F.length("piece") == 1).select("piece").localCheckpoint()
    top_multi = (
        seed.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))  # TakeOrdered, no window
        .limit(_ULM_SEED_TOPK)
    )
    v0sel = seed.filter(F.length("piece") == 1).unionByName(top_multi)
    z0 = v0sel.agg(F.sum("cnt").cast("double").alias("_z"))
    vocab = (
        v0sel.crossJoin(F.broadcast(z0))
        .select(
            "piece",
            F.round(-F.log(F.col("cnt").cast("double") / F.col("_z")) * 1e6)
            .cast("long")
            .alias("cost"),
        )
        .localCheckpoint()
    )
    for _ in range(_ULM_ROUNDS):
        best = _segment(cand, vocab)
        usage = (
            best.select("c", F.explode(F.split("seg", " ")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("c").cast("bigint").alias("usage"))
        )
        vocab = _mstep_prune(usage, chars)
    final = _segment(cand, vocab)
    usage_f = (
        final.select("word", "c", F.explode(F.split("seg", " ")).alias("piece"))
        .groupBy("piece")
        .agg(
            F.sum("c").cast("bigint").alias("usage"),
            F.countDistinct("word").cast("bigint").alias("n_words"),
        )
    )
    piece_mass = usage_f.agg(
        F.sum(F.col("usage") * F.length("piece")).cast("bigint").alias("_pm")
    )
    word_mass = words.agg(
        F.sum(F.col("c") * F.length("word")).cast("bigint").alias("_wm")
    )
    return (
        usage_f.join(F.broadcast(vocab), "piece")
        .crossJoin(F.broadcast(piece_mass))
        .crossJoin(F.broadcast(word_mass))
        .select(
            "piece",
            "usage",
            "n_words",
            F.col("cost").alias("cost_micro"),
            (F.col("_pm") == F.col("_wm")).alias("mass_conserved"),
        )
        .orderBy(F.desc("usage"), F.asc("piece"))
    )
