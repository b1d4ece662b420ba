"""Text analysis and tokenizers: statistics, quality and language
signals, PII redaction, TF-IDF / BM25 / sparse-cosine retrieval,
n-gram language-model scores, keyphrases, readability, chunking
(fixed-stride and content-defined), and tokenizer training and encoding
(BPE pair counts, merge learning and encoding; unigram-LM training and
Viterbi encoding).

Log-probabilities are rounded to integer micro-units before any
ordering decision, so ties break the same way on both engines.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import literal_dim, table
from ..functions import text as _T
from ..functions.scale import fan_out
from ..functions.text import tokenize, word_ngrams
from ..operators import dedup as _D
from ..operators.unigram import segment_words
from ..operators.unigram import segment_words as _segment
from .common import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    LANGID_SQL_SCORES,
    QC_BIAS,
    QC_BUCKETS,
    QC_WEIGHTS,
    gopher_keep,
    gopher_stat_columns,
)
from .registry import register


# ---------------------------------------------------------------------------
# Text-analysis surface over documents
# ---------------------------------------------------------------------------


_STOPWORDS_IN = ", ".join(f"'{w}'" for w in _T.STOPWORDS_EN)


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
                END AS BIGINT) AS n_tokens,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           CAST(length(text) AS BIGINT) AS text_len
    FROM documents
    """,
    doc="Token counting + md5 document fingerprint per doc — the cheap "
        "text-quality signals, all expression-level.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _T.token_count(F.col("text")).alias("n_tokens"),
        _T.fingerprint(F.col("text")).alias("fp"),
        F.length("text").cast("bigint").alias("text_len"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           coalesce(round(CAST(len(list_filter(toks, x -> x IN ({_STOPWORDS_IN}))) AS DOUBLE)
                 / nullif(len(toks), 0), 4), 0.0) AS stop_ratio,
           coalesce(round(CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                 / nullif(length(text), 0), 4), 0.0) AS punct_ratio
    FROM t
    """,
    doc="Quality-score components per doc: stopword ratio + punctuation "
        "ratio (usable as pushed-down corpus filters).",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = _T.tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(_T.stopword_ratio(toks), 4).alias("stop_ratio"),
        F.round(_T.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, {", ".join(LANGID_SQL_SCORES)}
        FROM t
    ),
    best AS (
        SELECT doc_id, lang,
               CASE
                 WHEN greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) = 0 THEN 'und'
                 WHEN hits_de >= greatest(hits_en, hits_es, hits_fr, hits_zh) THEN 'de'
                 WHEN hits_en >= greatest(hits_es, hits_fr, hits_zh) THEN 'en'
                 WHEN hits_es >= greatest(hits_fr, hits_zh) THEN 'es'
                 WHEN hits_fr >= hits_zh THEN 'fr'
                 ELSE 'zh'
               END AS predicted
        FROM scored
    )
    SELECT lang, predicted, count(*) AS n
    FROM best GROUP BY lang, predicted
    """,
    doc="Language-ID heuristic (marker-word argmax, ties -> language code "
        "asc) bucketed against the labeled lang column — the confusion "
        "matrix of the classifier.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", _T.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_token_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe_ish,
           CAST(len(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_marks
    FROM documents
    """,
    doc="BPE-ish token counting: words + standalone punctuation marks as "
        "separate tokens (the cheap proxy for subword token budgets), "
        "expression-level regexp_extract_all on both engines.",
)
def text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), F.lit(0))).cast("bigint").alias("n_bpe_ish"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+"), F.lit(0))).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), F.lit(0))).cast("bigint").alias("n_marks"),
    )


# ---------------------------------------------------------------------------
# Pretraining-filter text analysis: within-doc repetition, PII redaction
# (planted PII so the scrub is observable), TF-IDF salient terms.
# ---------------------------------------------------------------------------

@register(
    "text_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
                    ELSE [] END AS grams
        FROM t
    )
    SELECT doc_id,
           CASE WHEN len(grams) > 0
                THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4)
                ELSE 0.0 END AS rep_ratio
    FROM g
    """,
    doc="Within-document repetition ratio (1 - distinct/total word 3-grams) "
        "— the Gopher-style templated-text signal, expression-only and "
        "usable as a pushed-down corpus filter.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: one-split scan, tokenize+ngram+ratio is the whole cost (r12)
    docs = fan_out(table(spark, sf_dir, "documents"), "doc_id")
    # pre-project the gram array so tokenize+shingle runs once per row
    # (multi-referenced alias survives CollapseProject): 8s -> 2.7s at sf0.1
    grams = docs.select(
        "doc_id", _T.word_ngrams(_T.tokenize(F.col("text")), 3).alias("_grams")
    )
    return grams.select(
        "doc_id",
        F.round(_T.repetition_ratio_of_grams(F.col("_grams")), 4).alias("rep_ratio"),
    )


# The synthetic corpus contains no real PII, so the redaction query PLANTS a
# deterministic contact line per doc (email / phone / IP round-robin by
# doc_id) and scrubs it — the same construction on both engines, like the
# planted-duplicate corpora.
def _pii_suffix_spark() -> F.Column:
    # built lazily: Column construction needs an active SparkContext
    return (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" contact bob.smith+hr@example-careers.com now"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" call +1 415 555 0100 today"))
        .otherwise(F.lit(" server 10.42.7.19 logged it"))
    )


_PII_SUFFIX_SQL = """CASE
    WHEN doc_id % 3 = 0 THEN ' contact bob.smith+hr@example-careers.com now'
    WHEN doc_id % 3 = 1 THEN ' call +1 415 555 0100 today'
    ELSE ' server 10.42.7.19 logged it' END"""


@register(
    "text_pii_redact",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                   '\\+?\\d[\\d -]{{7,}}\\d', '<PHONE>', 'g'),
               '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g') AS redacted
    FROM planted
    """,
    doc="PII redaction pass (email -> phone -> IPv4 regexp_replace chain, "
        "RE2/Java-compatible patterns) over a corpus with deterministically "
        "planted contact lines. The scrub is a map-side expression chain — "
        "streaming-safe, no UDF.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), _pii_suffix_spark()).alias("text")
    )
    return planted.select(
        "doc_id", _T.redact_pii(F.col("text")).alias("redacted")
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents) u
        GROUP BY doc_id, tok
    ),
    idf AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df), 4) AS score
        FROM tf JOIN idf USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, score, rank FROM (
        SELECT doc_id, tok, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, tok) AS rank
        FROM scored) x
    WHERE rank <= 3
    """,
    doc="Top-3 TF-IDF terms per document: token-frequency agg, "
        "document-frequency agg (|vocab| rows -> AQE broadcasts it), corpus "
        "size via a broadcast 1-row cross join (never a driver collect), "
        "score rounded BEFORE ranking so cross-engine ln() ulp noise cannot "
        "flip ranks, deterministic tok tiebreak. Two shuffles total (tf agg "
        "+ per-doc window).",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    idf = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(idf, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "score", "rank")
    )


@register(
    "text_winnow_fingerprints",
    oracle="""
    WITH hs AS (
        SELECT doc_id,
               [substring(md5(lower(text)[i:i+4]), 1, 8)
                FOR i IN range(1, length(text) - 5 + 2)] AS h
        FROM documents
        WHERE length(text) >= 5 AND doc_id < 2000
    )
    SELECT doc_id, unnest(list_distinct(
               [list_min(h[j:j+3]) FOR j IN range(1, len(h) - 4 + 2)]
           )) AS fingerprint
    FROM hs
    WHERE len(h) >= 4
    """,
    doc="Winnowing fingerprints (the MOSS rolling-hash scheme): char 5-gram "
        "md5 prefixes, sliding 4-window minimum, distinct selected mins per "
        "doc — position-robust local fingerprints that localize copied "
        "spans (any shared substring >= 8 chars yields a shared "
        "fingerprint). String-min over hex so both engines replay the "
        "selection without integer conversion. Fully map-side/shuffle-free "
        "(an explode+window-min form is 2x faster locally but shuffles the "
        "whole position stream — the wrong trade at 100 TB). Demo bounded "
        "to doc_id < 2000.",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: one-split scan, and winnowing's per-char k-gram/window mins
    # are the whole cost — spread before the map stage (r12)
    docs = fan_out(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000), "doc_id"
    )
    return _D.winnow_fingerprints(docs, k=5, w=4)


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tk AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents) x
        WHERE tok <> ''
    ), vocab AS (
        SELECT tok, count(*) AS cnt FROM tk GROUP BY tok
    ), tot AS (
        SELECT count(*) AS total FROM tk
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(ln(CAST(total AS DOUBLE) / cnt)), 4) AS avg_nll
    FROM tk JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="Unigram-LM document scoring (the CCNet/CC-style statistical quality "
        "filter): fit token frequencies over the corpus itself, score each "
        "doc by mean negative log-probability of its tokens — low = "
        "boilerplate/repetitive, high = rare-token gibberish; filter both "
        "tails. Two hash aggregations plus one shuffle join on token; the "
        "1-row total broadcasts. No UDF anywhere.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.explode(_T.tokenize(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = tk.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        tk.join(vocab, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("total").cast("double") / F.col("cnt"))), 4).alias("avg_nll"),
        )
    )


@register(
    "text_bigram_logprob",
    oracle="""
    WITH tk AS (
        SELECT doc_id, pos, tok FROM (
            SELECT doc_id,
                   generate_subscripts(t, 1) AS pos, unnest(t) AS tok
            FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM documents) x) u
        WHERE tok <> ''
    ), bg AS (
        SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, tok
        FROM tk
        QUALIFY prev IS NOT NULL
    ), heads AS (
        SELECT prev, count(*) AS c1 FROM bg GROUP BY prev
    ), pairs AS (
        SELECT prev, tok, count(*) AS c2 FROM bg GROUP BY prev, tok
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(CAST(c1 AS DOUBLE) / c2)), 4) AS avg_nll
    FROM bg JOIN heads USING (prev) JOIN pairs USING (prev, tok)
    GROUP BY bg.doc_id
    """,
    doc="Bigram-LM document scoring — the conditional-probability upgrade "
        "of text_unigram_logprob (the CCNet-style LM quality filter, fit "
        "on the corpus itself so it stays exactly computable): per doc, "
        "mean -ln p(w_i | w_{i-1}) with MLE conditionals c(w1,w2)/c(w1). "
        "Low = repetitive boilerplate, high = incoherent token soup; "
        "filter both tails. Plan: one posexplode, one window lag per doc, "
        "two hash aggregations, two shuffle joins on the token key — no "
        "UDF, no driver state; at 100 TB the bigram count tables are the "
        "only global state and they are orders smaller than the corpus.",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "doc_id", F.posexplode(_T.tokenize(F.col("text"))).alias("pos", "tok")
        )
        .filter(F.col("tok") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tk.withColumn("prev", F.lag("tok").over(w))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "prev", "tok")
    )
    heads = bg.groupBy("prev").agg(F.count("*").alias("c1"))
    pairs = bg.groupBy("prev", "tok").agg(F.count("*").alias("c2"))
    return (
        bg.join(heads, "prev")
        .join(pairs, ["prev", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c1").cast("double") / F.col("c2"))), 4).alias("avg_nll"),
        )
    )


@register(
    "text_gopher_rules",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''),
    c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY doc_id, tok),
    s AS (SELECT doc_id,
                 CAST(sum(n) AS BIGINT) AS n_words,
                 CAST(max(n) AS BIGINT) AS top_n,
                 CAST(count(*) AS BIGINT) AS n_uniq,
                 CAST(sum(n * length(tok)) AS BIGINT) AS char_sum
          FROM c GROUP BY doc_id)
    SELECT doc_id, n_words,
           round(char_sum / n_words, 4) AS mean_word_len,
           round(top_n / n_words, 4) AS top_token_frac,
           round(n_uniq / n_words, 4) AS uniq_ratio,
           (n_words BETWEEN 40 AND 500
            AND round(char_sum / n_words, 4) BETWEEN 2.5 AND 8.0
            AND round(top_n / n_words, 4) <= 0.12
            AND round(n_uniq / n_words, 4) >= 0.4) AS keep
    FROM s
    """,
    doc="Gopher-style quality rules (Rae et al. 2021, public): word-count "
        "bounds, mean word length, most-common-token fraction, unique-"
        "token ratio, combined into a keep flag. ENTIRELY MAP-SIDE: the "
        "per-doc top-token count is a fold (F.aggregate) over the SORTED "
        "token array — longest equal-run — so no (doc, token) explode-"
        "shuffle ever happens; at 100 TB this is a pure scan. Thresholds "
        "are applied to the ROUNDED ratios on both engines so the keep "
        "flag is deterministic. Oracle replays via explode + two-level "
        "aggregation.",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    stats = gopher_stat_columns()
    base = docs.select(
        "doc_id",
        stats["n_words"].alias("n_words"),
        stats["top_n"].alias("top_n"),
        stats["n_uniq"].alias("n_uniq"),
        stats["char_sum"].alias("char_sum"),
    )
    mean_len = F.round(F.col("char_sum") / F.col("n_words"), 4)
    top_frac = F.round(F.col("top_n") / F.col("n_words"), 4)
    uniq = F.round(F.col("n_uniq") / F.col("n_words"), 4)
    return base.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        top_frac.alias("top_token_frac"),
        uniq.alias("uniq_ratio"),
        gopher_keep().alias("keep"),
    )


@register(
    "text_first_occurrence",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
        FROM documents WHERE trim(text) <> ''),
    pos AS (
        SELECT doc_id, unnest(tk) AS tok,
               generate_subscripts(tk, 1) AS pos
        FROM toks)
    SELECT doc_id, tok, CAST(min(pos) AS BIGINT) AS first_pos
    FROM pos
    WHERE tok IN ('spark', 'data', 'query')
    GROUP BY doc_id, tok
    """,
    doc="Positional tokenization: posexplode keeps each token's offset, "
        "min(pos) per (doc, token) finds first occurrences of a probe "
        "vocabulary — the building block for proximity features and "
        "lead-paragraph heuristics. The IN filter lands before the "
        "aggregation so only probe tokens shuffle. 1-based positions to "
        "match SQL generate_subscripts.",
)
def text_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    exploded = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos0", "tok")
    )
    return (
        exploded.filter(F.col("tok").isin("spark", "data", "query"))
        .groupBy("doc_id", "tok")
        .agg(F.min(F.col("pos0") + 1).cast("bigint").alias("first_pos"))
    )


@register(
    "text_token_entropy",
    oracle="""
    WITH t AS (
        SELECT lang,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''),
    c AS (SELECT lang, tok, count(*) AS n FROM t GROUP BY lang, tok),
    tot AS (SELECT lang, sum(n) AS total, count(*) AS vocab FROM c GROUP BY lang)
    SELECT c.lang,
           CAST(tot.total AS BIGINT) AS n_tokens,
           CAST(tot.vocab AS BIGINT) AS vocab_size,
           round(-sum((n / tot.total) * ln(n / tot.total)), 4)
               AS token_entropy_nats
    FROM c JOIN tot USING (lang)
    GROUP BY c.lang, tot.total, tot.vocab
    """,
    doc="Token-distribution Shannon entropy per language — the corpus "
        "diversity statistic pretraining recipes monitor (a collapsing "
        "or deduplication-damaged corpus shows entropy dropping toward "
        "its head tokens). Two hash aggregates: (lang, token) counts, "
        "then the entropy fold; totals ride the second aggregate's key "
        "so nothing is collected. ln() and double division are "
        "bit-identical cross-engine; 4dp rounding absorbs the "
        "sum-order ulp.",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = docs.select("lang", F.explode(tokenize(F.col("text"))).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    tot = counts.groupBy("lang").agg(
        F.sum("n").alias("total"), F.count("*").alias("vocab")
    )
    p = F.col("n") / F.col("total")
    return (
        counts.join(tot, "lang")
        .groupBy("lang", "total", "vocab")
        .agg(F.round(-F.sum(p * F.log(p)), 4).alias("token_entropy_nats"))
        .select(
            "lang",
            F.col("total").cast("bigint").alias("n_tokens"),
            F.col("vocab").cast("bigint").alias("vocab_size"),
            "token_entropy_nats",
        )
    )


# ---------------------------------------------------------------------------
# BM25 top-k retrieval
# ---------------------------------------------------------------------------
#
# BM25 (Robertson/Sparck-Jones): the lexical retrieval baseline used for
# corpus search, contamination auditing and hard-negative mining. Pure
# aggregate/join plan — tf, df, doclen, avgdl all relational; nothing
# collected.

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERIES = [
    (1, "spark"), (1, "join"),
    (2, "vector"), (2, "scan"), (2, "slow"),
    (3, "stream"), (3, "window"),
]


@register(
    "text_bm25_search",
    oracle=f"""
    WITH q(q_id, term) AS (VALUES {', '.join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)}),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                     count(*) AS n_docs FROM dl),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    contrib AS (
        SELECT q.q_id, tf.doc_id,
               CAST(round(
                   ln(1.0 + (CAST(s.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * {_BM25_K1 + 1.0})
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * dl.dl / s.avgdl))
                   * 1000000.0) AS BIGINT) AS micros
        FROM q
        JOIN df ON df.tok = q.term
        JOIN tf ON tf.tok = q.term
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT q_id, doc_id, round(sum(micros) / 1000000.0, 4) AS score
        FROM contrib GROUP BY q_id, doc_id
    )
    SELECT q_id, doc_id, score, rank FROM (
        SELECT q_id, doc_id, score,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM scored) x
    WHERE rank <= 5
    """,
    doc="BM25 top-5 retrieval (k1=1.2, b=0.75, Lucene-style "
        "ln(1+(N-df+.5)/(df+.5)) idf) for a broadcast literal query set — "
        "the lexical-search baseline of corpus audit / hard-negative "
        "mining. All statistics are relational aggregates: tf per "
        "(doc, term), doclen per doc, df per term (restricted to query "
        "terms BEFORE the big join — the df dim is |query terms| rows), "
        "avgdl from an exact bigint sum. Per-term contributions are "
        "rounded to integer MICRO-units and summed exactly, so the "
        "per-(query, doc) score never depends on float summation order; "
        "ranking rounds after the exact sum with doc_id tiebreak. Scale "
        "shape: the only wide shuffle is the tf aggregate (needed by any "
        "index build); scoring touches only rows whose token is a query "
        "term — a semi-join-sized slice, per-doc window over a handful "
        "of candidate docs per query.",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    qdim = literal_dim(
        spark, _BM25_QUERIES, "q_id bigint, term string"
    )
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    # ONE pass over the corpus: tf is the only aggregate computed from the
    # raw token stream (localCheckpointed — it feeds df, dl and the scoring
    # join, and Spark does not CSE identical subplans); doclen is the SUM
    # of tf per doc, not a second explode+scan of documents.
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")).localCheckpoint()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        F.broadcast(qdim)
        .join(df_, qdim.term == df_.tok)
        .drop("tok")
        .join(tf, F.col("term") == tf.tok)
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "q_id",
            "doc_id",
            F.round(idf * tf_part * 1000000.0).cast("bigint").alias("micros"),
        )
    )
    scored = contrib.groupBy("q_id", "doc_id").agg(
        F.round(F.sum("micros") / 1000000.0, 4).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("q_id", "doc_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Linear quality classifier (fastText-style hashed bag-of-words)
# ---------------------------------------------------------------------------


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH w(bucket, wgt) AS (VALUES {', '.join(f"({b}, CAST({v} AS DOUBLE))" for b, v in QC_WEIGHTS)}),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 4)) AS INTEGER) % {QC_BUCKETS}
                   AS bucket,
               count(*) AS cnt
        FROM toks GROUP BY doc_id, bucket
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    z AS (
        SELECT f.doc_id,
               sum(CAST(round(w.wgt * f.cnt * 1000000.0 / dl.dl) AS BIGINT)) AS micros
        FROM feats f JOIN w USING (bucket) JOIN dl USING (doc_id)
        GROUP BY f.doc_id
    ),
    scored AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(micros / 1000000.0 + {QC_BIAS}))), 4) AS score
        FROM z
    )
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN s.score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           round(sum(CAST(round(s.score * 10000) AS BIGINT)) / 10000.0 / count(*), 4)
               AS avg_score
    FROM scored s JOIN documents d USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="fastText-style linear quality classifier (the CCNet / LLaMA-1 "
        "corpus-filter stage): hashed bag-of-words features (md5-derived "
        "bucket — engine-portable, unlike murmur defaults), length-"
        "normalized counts dotted with a BROADCAST (bucket, weight) "
        "table, sigmoid score, keep-threshold verdict aggregated per "
        "language. The weight dim is a literal here; a trained model's "
        "exported table drops into the same plan. Per-bucket "
        "contributions round to integer micro-units before the per-doc "
        "sum (order-independent, hash-gate-safe), and the reported "
        "avg_score averages 4-decimal-rounded scores via exact integer "
        "sums. Scale shape: one tf aggregate, one broadcast join, one "
        "narrow per-doc sum — a pure map/agg pipeline, no UDF, no "
        "model server on the hot path.",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wdim = literal_dim(spark, QC_WEIGHTS, "bucket int, wgt double")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int")
        % QC_BUCKETS
    )
    # One corpus pass: doclen is the per-doc SUM of bucket counts, not a
    # second explode of the token stream; feats feeds both consumers from
    # a localCheckpoint (no subplan CSE in Spark).
    feats = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count("*").alias("cnt")
    ).localCheckpoint()
    dl = feats.groupBy("doc_id").agg(F.sum("cnt").alias("dl"))
    z = (
        feats.join(F.broadcast(wdim), "bucket")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.round(F.col("wgt") * F.col("cnt") * 1000000.0 / F.col("dl")).cast(
                    "bigint"
                )
            ).alias("micros")
        )
    )
    scored = z.select(
        "doc_id",
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("micros") / 1000000.0 + F.lit(QC_BIAS)))), 4
        ).alias("score"),
    )
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("score") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_keep"),
            F.round(
                F.sum(F.round(F.col("score") * 10000).cast("bigint")) / 10000.0
                / F.count("*"),
                4,
            ).alias("avg_score"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Token-window chunking (RAG / context-window preparation)
# ---------------------------------------------------------------------------


@register(
    "text_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ),
    sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
    chunks AS (
        SELECT doc_id, n,
               unnest(range(0, 1 + CAST(ceil(greatest(n - {CHUNK_SIZE}, 0)
                                             / {CHUNK_STRIDE}.0) AS BIGINT)))
                   AS chunk_idx,
               t
        FROM sized
    )
    SELECT doc_id, chunk_idx,
           len(t[chunk_idx * {CHUNK_STRIDE} + 1 :
                 chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}]) AS n_tokens,
           substring(md5(array_to_string(
               t[chunk_idx * {CHUNK_STRIDE} + 1 :
                 chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')), 1, 16)
               AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    doc="Sliding token-window chunking (size 32, stride 24 — the RAG / "
        "context-window preparation stage): each document fans out into "
        "ceil((n-size)/stride)+1 overlapping chunks, entirely map-side "
        "(tokenize -> explode(sequence) -> slice -> hash; no shuffle, no "
        "UDF). Chunk identity is a 16-hex md5 of the joined tokens, so "
        "downstream chunk-level dedup/embedding joins have a stable key "
        "that any engine reproduces. The final ORDER BY is presentation "
        "only; at 100 TB the chunk stream feeds the embedding stage "
        "partitioned however the writer chooses — chunking itself adds "
        "zero exchanges to the plan.",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    t = tokenize(F.col("text"))
    sized = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    n_chunks = 1 + F.ceil(
        F.greatest(F.col("n") - CHUNK_SIZE, F.lit(0)) / float(CHUNK_STRIDE)
    ).cast("bigint")
    chunk = F.slice(
        F.col("t"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
    )
    return (
        sized.withColumn(
            "chunk_idx", F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1))
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size(chunk).alias("n_tokens"),
            F.substring(F.md5(F.array_join(chunk, " ")), 1, 16).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# BPE pair counting
# ---------------------------------------------------------------------------
#
# BPE pair counting: the aggregate at the heart of byte-pair-encoding
# tokenizer training — corpus-wide adjacent-symbol-pair frequencies
# (here: character pairs within whitespace words, the first merge
# step's exact input). Sennrich et al. 2016's algorithm iterates this
# count; the distributed step is this one aggregate.

_BPE_TOPK = 50


@register(
    "tokenizer_bpe_pairs",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE lang = 'en'
    ),
    pairs AS (
        SELECT unnest([substring(w, i, 2) FOR i IN range(1, length(w))]) AS pair
        FROM words WHERE length(w) >= 2
    )
    SELECT pair, count(*) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT {_BPE_TOPK}
    """,
    doc=f"BPE tokenizer-training pair count: frequency of every adjacent "
        "character pair within whitespace words of the English slice, "
        f"top {_BPE_TOPK} (count desc, pair asc tiebreak — the argmax of "
        "this table IS the first BPE merge; training loops this aggregate "
        "per merge). Plan: map-side explode of substr(w, i, 2) over "
        "sequence(1, len-1) — zero pre-shuffle work — into ONE partial-"
        "aggregated groupBy and a TakeOrderedAndProject; at 100 TB the "
        "map-side combine collapses each task to its local pair "
        "vocabulary (bounded by charset^2), so shuffle volume is "
        "O(tasks x distinct pairs), independent of corpus size.",
)
def tokenizer_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    words = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substr("w", i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage / OOV audit
# ---------------------------------------------------------------------------

_VOCAB_K = 256


@register(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS r FROM freq) x
        WHERE r <= {_VOCAB_K}
    )
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS oov_tokens,
           (count(*) FILTER (WHERE v.tok IS NULL)) * 1000 // count(*)
               AS oov_permille
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.lang
    """,
    doc=f"Tokenizer vocabulary coverage audit: build the top-{_VOCAB_K} "
        "corpus vocabulary (frequency desc, token asc tiebreak — the "
        "greedy frequency vocab a unigram tokenizer starts from), then "
        "measure per-language OOV: total tokens, out-of-vocab tokens, and "
        "integer per-mille OOV rate. The language whose OOV rate is "
        "highest is the one the vocabulary underserves — the standard "
        "pre-tokenizer-training fairness check (cf. XLM-R's per-language "
        "fertility audit). Plan: ONE tokenize pass (checkpointed — feeds "
        "the frequency aggregate and the coverage join), vocab via "
        "TakeOrderedAndProject (no global sort), broadcast left join, "
        "per-lang aggregate with map-side combine. Positive integer "
        "floor-div keeps the rate exact on both engines. At 100 TB the "
        "vocab dim is the only cross-partition state and it is top-k "
        "mergeable.",
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = docs.select(
        "lang", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    ).localCheckpoint()  # feeds the vocab build AND the coverage join
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    vocab = (
        freq.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("total_tokens"),
            F.count_if(F.col("_in_vocab").isNull()).alias("oov_tokens"),
        )
        .select(
            "lang",
            "total_tokens",
            "oov_tokens",
            F.expr("(oov_tokens * 1000) div total_tokens").alias("oov_permille"),
        )
    )


_INV_TERMS = 32
_INV_POSTINGS = 20


@register(
    "text_inverted_index",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
    top AS (
        SELECT tok, df FROM (
            SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS r
            FROM df) x
        WHERE r <= {_INV_TERMS}
    )
    SELECT top.tok AS term, top.df,
           array_to_string((list_sort(list(t.doc_id)))[1 : {_INV_POSTINGS}], ',')
               AS postings
    FROM top JOIN toks t ON t.tok = top.tok
    GROUP BY top.tok, top.df
    """,
    doc=f"Inverted-index construction (the retrieval-side artifact BM25 "
        "serves from): per-term document-frequency table, top "
        f"{_INV_TERMS} terms by (df desc, term asc), each with its "
        f"posting list truncated to the first {_INV_POSTINGS} doc ids "
        "ascending — the bounded-prefix convention real posting formats "
        "(impact-ordered or doc-ordered blocks) use for skippable "
        "storage. Plan: distinct (doc, term) pass, df aggregate, top-k "
        "via TakeOrderedAndProject, then collect_set -> sort_array -> "
        "slice for ONLY the selected terms (the broadcast semi-join "
        "prunes the posting build to 32 terms before any list state "
        "exists). At 100 TB posting lists are the one unbounded-state "
        "aggregate in this file — the truncation bound is what keeps "
        "executor memory flat, and full lists would go to a bucketed "
        "sink partitioned by term hash instead.",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    ).distinct().localCheckpoint()  # feeds the df aggregate AND the posting build
    df_ = toks.groupBy("tok").agg(F.count("*").alias("df"))
    top = df_.orderBy(F.desc("df"), F.asc("tok")).limit(_INV_TERMS)
    return (
        toks.join(F.broadcast(top), "tok")
        .groupBy(F.col("tok").alias("term"), "df")
        .agg(
            # comma-joined string, not a raw array column: the registry's
            # output convention is scalar columns (cross-engine array
            # renderings differ — numpy vs list — under Arrow-less
            # sessions, and a string round-trips any compare harness)
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, _INV_POSTINGS), ","
            ).alias("postings")
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (FastCDC-style) with insertion-robustness proof
# ---------------------------------------------------------------------------

_CDC_MOD = 8          # boundary when gram-hash % 8 == 0 -> ~8-token chunks
_CDC_SHIFT = "zz qq"  # 2-token prefix inserted into the planted copies


@register(
    "text_cdc_chunk_match",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, '{_CDC_SHIFT} ' || text AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id, t, len(t) AS n
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM corpus)
        WHERE len(t) >= 2
    ),
    p AS (
        SELECT doc_id, n, unnest(range(1, n + 1)) AS pos, t FROM toks
    ),
    b AS (
        SELECT doc_id, pos, t[pos] AS tok,
               CASE WHEN pos < n
                         AND ('0x' || substring(md5(t[pos] || ' ' || t[pos + 1]),
                                                1, 4))::BIGINT % {_CDC_MOD} = 0
                    THEN 1 ELSE 0 END AS brk
        FROM p
    ),
    cid AS (
        SELECT doc_id, pos, tok,
               1 + coalesce(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING), 0) AS chunk_id
        FROM b
    ),
    chunks AS (
        SELECT doc_id, chunk_id,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS ch
        FROM cid GROUP BY doc_id, chunk_id
    ),
    basehash AS (
        -- distinct per (base doc, hash): a base doc repeating a chunk
        -- hash must not multiply the left join below
        SELECT DISTINCT doc_id, ch FROM chunks WHERE doc_id < 300000
    ),
    copies AS (
        SELECT c.doc_id AS copy_id, c.ch,
               (b2.ch IS NOT NULL) AS matched
        FROM chunks c
        LEFT JOIN basehash b2
          ON b2.doc_id = c.doc_id - 300000 AND b2.ch = c.ch
        WHERE c.doc_id >= 300000
    ),
    perdoc AS (
        SELECT copy_id,
               count(*) AS n_chunks,
               sum(CASE WHEN matched THEN 1 ELSE 0 END) AS n_matched
        FROM copies GROUP BY copy_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_copies,
           CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
           CAST(sum(n_matched) AS BIGINT) AS matched_chunks,
           -- CAST: HUGEINT-derived quotient renders float64 in pandas otherwise
           CAST((sum(n_matched) * 1000) // sum(n_chunks) AS BIGINT) AS matched_permille
    FROM perdoc
    """,
    doc="Content-defined chunking (FastCDC/rolling-hash family): a chunk "
        f"boundary falls AFTER any position whose bigram hash % {_CDC_MOD} "
        "== 0, so boundaries are functions of CONTENT, not offsets — the "
        "property that makes chunk-level dedup survive insertions. The "
        "query PROVES it: every document is re-planted with a 2-token "
        "prefix inserted (ids +3e5), and the report counts how many of "
        "each copy's chunks still hash-match its base's chunks. "
        "Fixed-stride chunking (text_chunk_overlap) would match ~0 — "
        "every window shifts by 2; CDC re-synchronizes at the first "
        "boundary after the edit (measured 87.7% matched here). Output: "
        "one row — copies, total/matched chunks, integer per-mille match "
        "rate. Plan: map-side boundary flags (md5 bigram), one "
        "lagged-cumsum window per doc for chunk ids, chunk-hash "
        "aggregate, self-equi-join on (base, hash). At 100 TB this is "
        "the storage-dedup chunker (Borg/LBFS lineage); the window "
        "shuffles on doc_id and chunks join on hash — both linear.",
)
def text_cdc_chunk_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(F.lit(_CDC_SHIFT + " "), F.col("text")).alias("text"),
        )
    )
    t = tokenize(F.col("text"))
    sized = corpus.select("doc_id", t.alias("t"), F.size(t).alias("n")).filter(
        F.col("n") >= 2
    )
    p = sized.withColumn("pos", F.explode(F.sequence(F.lit(1), F.col("n"))))
    brk = F.when(
        (F.col("pos") < F.col("n"))
        & (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at("t", F.col("pos")),
                            F.element_at("t", F.col("pos") + 1),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % _CDC_MOD
            == 0
        ),
        1,
    ).otherwise(0)
    w = Window.partitionBy("doc_id").orderBy("pos")
    cid = p.select(
        "doc_id",
        "pos",
        F.element_at("t", F.col("pos")).alias("tok"),
        (
            1
            + F.coalesce(
                F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        ).alias("chunk_id"),
    )
    chunks = (
        cid.groupBy("doc_id", "chunk_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("ch")
        )
        .localCheckpoint()  # feeds the copy side AND the base side of the match join
    )
    copies = chunks.filter(F.col("doc_id") >= 300000).select(
        F.col("doc_id").alias("copy_id"), "ch"
    )
    base = chunks.filter(F.col("doc_id") < 300000).select(
        (F.col("doc_id") + 300000).alias("copy_id"),
        "ch",
        F.lit(True).alias("_m"),
    ).distinct()
    perdoc = (
        copies.join(base, ["copy_id", "ch"], "left")
        .groupBy("copy_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_if(F.col("_m").isNotNull()).alias("n_matched"),
        )
    )
    return perdoc.agg(
        F.count("*").alias("n_copies"),
        F.sum("n_chunks").cast("bigint").alias("total_chunks"),
        F.sum("n_matched").cast("bigint").alias("matched_chunks"),
        F.expr("(sum(n_matched) * 1000) div sum(n_chunks)").alias("matched_permille"),
    )


# ---------------------------------------------------------------------------
# Mojibake repair
# ---------------------------------------------------------------------------
#
# Mojibake repair (ftfy-style): detect and reverse UTF-8-read-as-
# Latin-1 double encoding with a table-driven replace chain, proven by
# a planted-corruption round trip (corrupt a deterministic slice, then
# repair, then verify equality — the planted-dup-corpora pattern of
# operators/dedup.py's tests).

# UTF-8 bytes of the intended char, misread as Latin-1. The repair map
# is table-driven (real ftfy tables are hundreds of entries); two are
# exercised by the planted corruption, the rest document the form.
_MOJIBAKE_MAP = (
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¡", "á"),  # Ã¡ -> á
    ("â", "’"),  # â€™ -> right single quote
    ("â", "“"),  # â€œ -> left double quote
)


@register(
    "text_encoding_repair",
    oracle="""
    WITH planted AS (
        SELECT doc_id, text, (doc_id % 5 = 0) AS planted,
               CASE WHEN doc_id % 5 = 0
                    THEN replace(replace(text, 'e', 'é'), 'a', 'á')
                    ELSE text END AS intended
        FROM documents
    ),
    corrupted AS (
        SELECT doc_id, planted, intended,
               replace(replace(intended, 'é', 'Ã©'),
                       'á', 'Ã¡') AS wire
        FROM planted
    ),
    repaired AS (
        SELECT doc_id, planted, intended, wire,
               replace(replace(replace(replace(wire,
                   'Ã©', 'é'),
                   'Ã¡', 'á'),
                   'â', '’'),
                   'â', '“') AS fixed
        FROM corrupted
    )
    SELECT doc_id, planted,
           CAST((length(wire)
                 - length(replace(replace(wire, 'Ã©', ''),
                                  'Ã¡', ''))) / 2 AS BIGINT)
               AS n_mojibake,
           (fixed = intended) AS repaired_ok
    FROM repaired
    """,
    doc="ftfy-style mojibake repair, proven by a planted-corruption "
        "round trip: a deterministic slice (doc_id % 5 = 0) is given "
        "non-ASCII 'intended' text, wire-corrupted by the exact UTF-8-"
        "read-as-Latin-1 transform (é -> Ã©), then "
        "repaired with the table-driven replace chain and verified "
        "equal to the intended text — repaired_ok must be TRUE on every "
        "row and n_mojibake > 0 exactly on the planted slice. The "
        "repair map is a replace chain compiled into ONE whole-stage-"
        "codegen projection: zero shuffles, zero UDFs, linear in bytes "
        "scanned — at 100 TB this is the map-side hygiene pass that "
        "rides along with scan+filter for free. Counting uses the "
        "length-difference identity (each mojibake pair is 2 chars), "
        "pure integer arithmetic on both engines.",
)
def text_encoding_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.col("doc_id") % 5 == 0
    intended = F.when(
        planted,
        F.replace(
            F.replace(F.col("text"), F.lit("e"), F.lit("é")),
            F.lit("a"),
            F.lit("á"),
        ),
    ).otherwise(F.col("text"))
    with_intended = docs.select(
        "doc_id", planted.alias("planted"), intended.alias("intended")
    )
    wire = F.replace(
        F.replace(F.col("intended"), F.lit("é"), F.lit("Ã©")),
        F.lit("á"),
        F.lit("Ã¡"),
    )
    staged = with_intended.select(
        "doc_id", "planted", "intended", wire.alias("wire")
    )
    fixed = F.col("wire")
    for bad, good in _MOJIBAKE_MAP:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    stripped = F.replace(
        F.replace(F.col("wire"), F.lit("Ã©"), F.lit("")),
        F.lit("Ã¡"),
        F.lit(""),
    )
    return staged.select(
        "doc_id",
        "planted",
        ((F.length("wire") - F.length(stripped)) / 2).cast("bigint").alias("n_mojibake"),
        (fixed == F.col("intended")).alias("repaired_ok"),
    )


# ---------------------------------------------------------------------------
# Reciprocal Rank Fusion
# ---------------------------------------------------------------------------
#
# Reciprocal Rank Fusion (Cormack et al. 2009): the standard way RAG
# stacks combine a lexical ranker with a second signal — fuse two
# rankings by sum of 1/(k + rank), k=60. Implemented the way it scales:
# each ranker is cut to its top-N via TakeOrderedAndProject FIRST, the
# rank window runs on the N-row survivors (never the corpus), and the
# fusion is a tiny full-outer join.

_RRF_K = 60
_RRF_TERMS = ("spark", "join", "window")  # the text_bm25_search q1/q3 terms
_RRF_TOPN = 50  # per-ranker cut before ranking
_RRF_OUT = 20


@register(
    "text_rrf_fusion",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    cand AS (
        SELECT doc_id, any_value(n_chars) AS n_chars,
               count(*) AS tf, count(DISTINCT tok) AS cov
        FROM toks
        WHERE tok IN {tuple(_RRF_TERMS)}
        GROUP BY doc_id
    ),
    rtf AS (
        SELECT doc_id, rank_tf FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY tf DESC, doc_id) AS rank_tf
            FROM cand) x
        WHERE rank_tf <= {_RRF_TOPN}
    ),
    rcov AS (
        SELECT doc_id, rank_cov FROM (
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY cov DESC, n_chars, doc_id) AS rank_cov
            FROM cand) x
        WHERE rank_cov <= {_RRF_TOPN}
    ),
    fused AS (
        SELECT COALESCE(rtf.doc_id, rcov.doc_id) AS doc_id,
               rtf.rank_tf, rcov.rank_cov,
               COALESCE(CAST(round(1000000000.0 / ({_RRF_K} + rank_tf))
                             AS BIGINT), 0)
                 + COALESCE(CAST(round(1000000000.0 / ({_RRF_K} + rank_cov))
                                 AS BIGINT), 0) AS rrf_micro
        FROM rtf FULL OUTER JOIN rcov ON rtf.doc_id = rcov.doc_id
    )
    SELECT doc_id, rank_tf, rank_cov, rrf_micro
    FROM fused
    ORDER BY rrf_micro DESC, doc_id
    LIMIT {_RRF_OUT}
    """,
    doc=f"Reciprocal Rank Fusion (Cormack et al. 2009), k={_RRF_K}: fuse "
        "a term-frequency ranker with a term-coverage ranker over the "
        f"query {_RRF_TERMS} by sum of 1/(k + rank); docs missing from a "
        "ranker's list contribute 0 for it — the standard hybrid-"
        "retrieval combiner in RAG stacks (typically lexical + vector; "
        "here two lexical signals so the oracle is exact). The 100 TB "
        "shape: candidates are docs matching >= 1 query term (a map-side "
        f"filter), each ranker cuts to top-{_RRF_TOPN} via "
        "TakeOrderedAndProject BEFORE any rank window — the window runs "
        f"on a {_RRF_TOPN}-row frame, never the corpus — and fusion is a "
        "full-outer join of two tiny frames. Float discipline: the only "
        "division is 1e9/(k+rank) on integer inputs, one IEEE op rounded "
        "immediately to bigint, so fused scores sum exactly on both "
        "engines.",
)
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    cand = (
        toks.filter(F.col("tok").isin(*_RRF_TERMS))
        .groupBy("doc_id")
        .agg(
            F.any_value("n_chars").alias("n_chars"),
            F.count("*").alias("tf"),
            F.countDistinct("tok").alias("cov"),
        )
        .localCheckpoint()  # feeds both rankers; Spark does not CSE subplans
    )
    top_tf = cand.orderBy(F.col("tf").desc(), "doc_id").limit(_RRF_TOPN)
    rtf = top_tf.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
        .alias("rank_tf"),
    )
    top_cov = cand.orderBy(F.col("cov").desc(), "n_chars", "doc_id").limit(
        _RRF_TOPN
    )
    rcov = top_cov.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cov").desc(), "n_chars", "doc_id"))
        .alias("rank_cov"),
    )
    contrib = lambda rank_col: F.coalesce(  # noqa: E731
        F.round(F.lit(1_000_000_000.0) / (_RRF_K + rank_col)).cast("bigint"),
        F.lit(0),
    )
    fused = (
        rtf.join(rcov, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_tf",
            "rank_cov",
            (contrib(F.col("rank_tf")) + contrib(F.col("rank_cov"))).alias(
                "rrf_micro"
            ),
        )
        .orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(_RRF_OUT)
    )
    return fused


# Float discipline (the queries module docstring): scores are integer micro-units
# via a single IEEE division rounded immediately; PMI uses the accepted ln +
# ``text_bm25_search`` precedent; all sums/counts are exact
# bigints.

# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------
#
# PMI collocations (Church & Hanks 1990): adjacent-bigram pointwise
# mutual information — the classic collocation extractor corpus
# linguists and tokenizer designers run first. One bigram aggregate
# feeds the pair / left-unigram / right-unigram / total counts.

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
# Lexical diversity
# ---------------------------------------------------------------------------
#
# Lexical diversity: type-token ratio and hapax-legomena rate per
# language — standard corpus-QA signals alongside Zipf slope.

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
# Flesch reading ease
# ---------------------------------------------------------------------------
#
# Flesch reading-ease scoring: the classic readability formula over
# vowel-run syllable counts — fixture text has no sentence
# punctuation, so the sentence term degenerates to per-doc word count
# (documented; the operator's value here is the engine-exact formula
# plumbing and the vocabulary-free syllable heuristic).


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


# ---------------------------------------------------------------------------
# Sparse tf-idf cosine top-k
# ---------------------------------------------------------------------------
#
# Sparse tf-idf cosine top-k: all-pairs document similarity through
# an inverted-index join restricted to RARE terms (df <= cap — the
# pruning that bounds candidate pairs at corpus scale), weights
# quantized to milli-int so dot products and norms accumulate as
# EXACT bigints; cosine rounded to micro BEFORE ranking so ordering
# is integer-deterministic.

_COS_DF_PCT = 5  # inverted-index pruning: terms with df <= 5% of corpus join
_COS_TOPK = 3


@register(
    "text_sparse_cosine_topk",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents) u
        GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    weights AS (
        SELECT tf.doc_id, tf.tok,
               tf.tf * CAST(round(1000.0 * ln(CAST(n.n_docs AS DOUBLE)
                                              / df.df)) AS BIGINT) AS w
        FROM tf JOIN df USING (tok) CROSS JOIN n
        WHERE df.df <= greatest(1, n.n_docs * {_COS_DF_PCT} // 100)
    ),
    norms AS (
        SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2
        FROM weights GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(a.w * b.w) AS BIGINT) AS dot
        FROM weights a JOIN weights b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d.doc_a, d.doc_b,
               CAST(round(1000000.0 * d.dot
                          / (sqrt(CAST(na.norm2 AS DOUBLE))
                             * sqrt(CAST(nb.norm2 AS DOUBLE)))) AS BIGINT)
                   AS cosine_micro
        FROM dots d
        JOIN norms na ON na.doc_id = d.doc_a
        JOIN norms nb ON nb.doc_id = d.doc_b
    )
    SELECT doc_a, doc_b, cosine_micro, rank FROM (
        SELECT doc_a, doc_b, cosine_micro,
               row_number() OVER (PARTITION BY doc_a
                                  ORDER BY cosine_micro DESC, doc_b) AS rank
        FROM scored) x
    WHERE rank <= {_COS_TOPK}
    ORDER BY doc_a, rank
    """,
    doc=f"Sparse tf-idf cosine top-{_COS_TOPK}: all-pairs document "
        "similarity through an inverted-index join restricted to RARE "
        f"terms (df <= {_COS_DF_PCT}% of the corpus — RELATIVE, so the "
        "pruning neither degenerates on a small-vocabulary corpus nor "
        "loosens as the corpus grows) — the cap bounds candidate "
        "pairs by sum(df^2) over the surviving vocabulary instead of "
        "|docs|^2, exactly how sparse similarity search stays "
        "tractable at corpus scale (hot terms carry ~zero idf signal "
        "AND generate the quadratic blowup, so the cap costs little "
        "recall and buys the whole bound). idf quantizes to "
        "milli-int ONCE (the text_tfidf_top_terms round-before-"
        "compare device, absorbing cross-engine ln ulp), after which "
        "weights, dot products and squared norms are all EXACT "
        "bigints; cosine is rounded to micro BEFORE the rank window "
        "so ordering decisions are integer-deterministic with a "
        "doc_b tiebreak. The 100 TB shape: postings hash-partition "
        "by term for the join, partial-agg collapses (a,b) pairs "
        "map-side, and the per-doc top-k window sees only surviving "
        "candidate pairs.",
)
def text_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("bigint").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    weights = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .filter(
            F.col("df")
            <= F.greatest(
                F.lit(1), F.floor(F.col("n_docs") * _COS_DF_PCT / 100)
            )
        )
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.round(
                    F.lit(1000.0)
                    * F.log(F.col("n_docs").cast("double") / F.col("df"))
                ).cast("bigint")
            ).alias("w"),
        )
        .localCheckpoint()  # feeds norms AND both join sides of dots
    )
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("norm2")
    )
    a = weights.select("tok", F.col("doc_id").alias("doc_a"), F.col("w").alias("wa"))
    b = weights.select("tok", F.col("doc_id").alias("doc_b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb2"))
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.lit(1_000_000.0)
                * F.col("dot")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            )
            .cast("bigint")
            .alias("cosine_micro"),
        )
    )
    w = Window.partitionBy("doc_a").orderBy(
        F.col("cosine_micro").desc(), F.col("doc_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _COS_TOPK)
        .select("doc_a", "doc_b", "cosine_micro", "rank")
        .orderBy("doc_a", "rank")
    )


# Float discipline (the queries module docstring): degrees, frequencies,
# morton codes, sizes and fills are exact bigints; the only divisions are
# per-word score quantization (rounded once, then integer-summed) and display
# ratios.

# ---------------------------------------------------------------------------
# RAKE keyphrases
# ---------------------------------------------------------------------------
#
# RAKE keyphrase extraction: stopword-delimited candidate phrases via
# the gaps-and-islands device (island id = position - row_number over
# non-stopword tokens), per-document word degree/frequency scores,
# phrase score as the INTEGER sum of member-word micro scores (each
# word ratio rounded once, then summed exactly — no float
# accumulation across words), top phrase per document.

_RAKE_STOPWORDS = (
    "the a an and or of to in on for with is are was be as at by it this "
    "that from its not has have had but their they we you he she his her"
).split()

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPWORDS)


@register(
    "text_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, l[i] AS tok, i AS pos FROM (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS l,
                   unnest(generate_series(1, len(string_split_regex(
                       trim(lower(text)), '\\s+')))) AS i
            FROM documents) u
    ),
    content AS (
        SELECT doc_id, tok, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS rid
        FROM toks WHERE tok NOT IN ({_RAKE_STOP_SQL})
    ),
    phrases AS (
        SELECT doc_id, rid,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               CAST(count(*) AS BIGINT) AS n_words
        FROM content GROUP BY doc_id, rid
    ),
    occurrences AS (
        SELECT c.doc_id, c.tok, c.rid, p.n_words
        FROM content c JOIN phrases p
          ON p.doc_id = c.doc_id AND p.rid = c.rid
    ),
    word_scores AS (
        SELECT doc_id, tok,
               CAST(round(1000000.0 * sum(n_words) / count(*)) AS BIGINT)
                   AS w_micro
        FROM occurrences GROUP BY doc_id, tok
    ),
    phrase_scores AS (
        SELECT o.doc_id, o.rid,
               CAST(sum(w.w_micro) AS BIGINT) AS score_micro
        FROM occurrences o JOIN word_scores w
          ON w.doc_id = o.doc_id AND w.tok = o.tok
        GROUP BY o.doc_id, o.rid
    )
    SELECT doc_id, phrase, n_words, score_micro FROM (
        SELECT p.doc_id, p.phrase, p.n_words, s.score_micro,
               row_number() OVER (PARTITION BY p.doc_id
                                  ORDER BY s.score_micro DESC, p.phrase)
                   AS rk
        FROM phrases p JOIN phrase_scores s
          ON s.doc_id = p.doc_id AND s.rid = p.rid) x
    WHERE rk = 1
    ORDER BY doc_id
    """,
    doc="RAKE keyphrase extraction — the classic unsupervised "
        "keyword pass: candidate phrases are maximal stopword-free "
        "token runs found with the gaps-and-islands device (island id "
        "= position - row_number over content tokens; one window, no "
        "self-join); word score = degree/frequency where degree sums "
        "the lengths of phrases each occurrence sits in; phrase score "
        "= sum of member-word scores. Determinism: each word ratio "
        "quantizes to micro ONCE, phrase scores then accumulate as "
        "EXACT integer sums, and the per-doc top phrase breaks ties "
        "on the phrase string. The 100 TB shape: everything is keyed "
        "by doc_id — tokenize/island/phrase/degree stages all "
        "partial-aggregate or window within the document partition, "
        "so the corpus parallelizes embarrassingly across docs with "
        "ONE shuffle onto doc_id; the stopword list is a literal "
        "in-plan IN filter (a broadcast lookup at vocabulary scale).",
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokenize(F.col("text"))).alias("pos0", "tok"),
    ).select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    content = (
        toks.filter(~F.col("tok").isin(_RAKE_STOPWORDS))
        .withColumn(
            "rid",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
        .localCheckpoint()  # feeds phrases AND occurrences
    )
    phrases = content.groupBy("doc_id", "rid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("n_words"),
    )
    occurrences = content.join(
        phrases.select("doc_id", "rid", "n_words"), ["doc_id", "rid"]
    ).select("doc_id", "tok", "rid", "n_words")
    word_scores = occurrences.groupBy("doc_id", "tok").agg(
        F.round(F.lit(1_000_000.0) * F.sum("n_words") / F.count("*"))
        .cast("bigint")
        .alias("w_micro")
    )
    phrase_scores = (
        occurrences.join(word_scores, ["doc_id", "tok"])
        .groupBy("doc_id", "rid")
        .agg(F.sum("w_micro").cast("bigint").alias("score_micro"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("phrase")
    )
    return (
        phrases.join(phrase_scores, ["doc_id", "rid"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "phrase", "n_words", "score_micro")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# N-gram novelty scoring
# ---------------------------------------------------------------------------
#
# N-gram novelty: per evaluation document, the fraction of its
# distinct word 5-grams absent from a reference split (md5-hashed
# join keys, anti-join counting) — the "how much of this doc is new
# text" score that complements decontamination's binary flag.

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


# ---------------------------------------------------------------------------
# BPE merge learning
# ---------------------------------------------------------------------------
#
# BPE merge learning, the REAL iterative loop (tokenizer_bpe_pairs
# counts pairs once; this LEARNS): four rounds of count-all-adjacent-
# symbol-pairs -> pick the most frequent (ties pinned) -> merge it
# everywhere.  The merge step is a single literal string replacement
# over a delimiter-embedded symbol string ("h<US>e<US>..."), which
# both engines apply greedily left-to-right non-overlapping — exactly
# BPE's merge semantics — with zero UDFs.

_BPE_ROUNDS = 4
_BPE_SEP = "\x1f"  # unit separator: never appears in corpus text


def _bpe_oracle() -> str:
    sep = "chr(31)"
    parts = [f"""
    WITH w0 AS (
        SELECT regexp_replace(word, '(.)', '\\1' || {sep}, 'g') AS s,
               CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                AS word
            FROM documents) t
        WHERE word <> ''
        GROUP BY 1
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
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round, a || ' ' || b AS pair, freq "
        f"FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ]
    parts.append(
        "SELECT * FROM (" + " UNION ALL ".join(selects) + ") ORDER BY round"
    )
    return "\n".join(parts)


@register(
    "tokenizer_bpe_learn",
    oracle=_bpe_oracle(),
    doc=f"Iterative BPE merge learning, {_BPE_ROUNDS} rounds — the real "
        "tokenizer-training loop (tokenizer_bpe_pairs counts the first "
        "round's pairs; this one LEARNS: each round re-counts adjacent "
        "symbol pairs over the weighted word vocabulary, picks the most "
        "frequent pair with fully pinned ties (freq DESC, pair text), "
        "and merges it everywhere before the next count). The merge "
        "step is the trick: words are held as delimiter-embedded symbol "
        "strings ('h<US>e<US>l<US>l<US>o<US>', US = chr(31)), so "
        "merging pair (a,b) is ONE literal string replacement "
        "a<US>b<US> -> ab<US> — because the delimiter lives INSIDE each "
        "symbol's cell, adjacent occurrences share no characters and "
        "both engines' greedy left-to-right non-overlapping literal "
        "replace implements exactly BPE's merge order ('aaa' + merge "
        "(a,a) -> 'aa a', never 'a aa'). No UDFs anywhere; every count "
        "is an exact bigint. Output: (round, merged pair, frequency). "
        "The 100 TB shape: the corpus collapses ONCE to the weighted "
        "word-type vocabulary (types, not tokens, cross every later "
        "shuffle — the standard BPE-at-scale reduction); each round is "
        "a map-side pair explosion + partial-combining count + "
        "TakeOrdered(1) + broadcast of the 1-row merge rule.",
)
def tokenizer_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    sep = _BPE_SEP
    words = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(
            F.regexp_replace("word", "(.)", "$1" + sep).alias("s"), "c"
        )
        .localCheckpoint()
    )
    out = None
    cur = words
    for r in range(1, _BPE_ROUNDS + 1):
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
            .localCheckpoint()
        )
        row = top.select(
            F.lit(r).cast("bigint").alias("round"),
            F.concat_ws(" ", "a", "b").alias("pair"),
            "freq",
        )
        out = row if out is None else out.unionByName(row)
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
    return out.orderBy("round")


# Float discipline (the queries module docstring): counts and power sums are
# exact integers; entropy folds are order-pinned; each reported value is one
# rounded IEEE expression.

# ---------------------------------------------------------------------------
# Character entropy
# ---------------------------------------------------------------------------
#
# Per-document character entropy — the compression-adjacent quality
# signal (gibberish and binary-ish text score low-entropy-per-symbol
# anomalies in both directions; a standard cheap filter feature next
# to the alpha ratio).  The float part — sum of c*ln(c) over a
# document's character counts — runs as an ORDER-PINNED fold over the
# char-sorted count list (the PCA-norm device), so the double is
# bit-identical on both engines and the milli-quantized entropy
# hash-matches exactly.


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


# distributed BPE ENCODING — applying a learned
# merge table to the corpus, the operator a training-data pipeline runs
# most often (learning happens once; encoding happens on every shard of
# every crawl).
#
# ``tokenizer_bpe_pairs`` counts first-round pairs and
# ``tokenizer_bpe_learn`` learns the merge table; this closes the family:
# learn the same ``_BPE_ROUNDS`` merges, APPLY them to every word type,
# and report the encoded token-frequency table with two in-plan
# guarantees:
#
# - character-mass conservation: merges concatenate symbols but never
#   create or destroy characters, so sum(len(token) * occurrences) over
#   the encoded corpus must equal sum(len(word) * count) over the raw
#   vocabulary — an exact bigint invariant checked inside the plan
#   (``mass_ok``), the same IN-PLAN verdict convention as
#   ``agg_misra_gries_topk`` / ``events_active_users_sketch``;
# - fertility: encoded tokens per raw word in exact integer per-mille
#   (``fertility_milli``), the tokenizer-quality number every vocab-size
#   ablation tracks (cf. tokenizer_vocab_coverage's per-language OOV
#   convention — positive integer floor-div on both engines).
#
# Encoding strategy (the 100 TB shape): the corpus collapses ONCE to the
# weighted word-TYPE vocabulary — types, not tokens, cross every later
# shuffle, the standard BPE-at-scale reduction — then each merge rank is
# ONE literal string replacement over the delimiter-embedded symbol
# string ("h<US>e<US>l<US>l<US>o<US>", US = chr(31)).  Because the
# delimiter lives inside each symbol's cell, adjacent occurrences share
# no characters and both engines' greedy left-to-right non-overlapping
# replace implements exactly BPE's rank-order merge semantics — applying
# merge r exhaustively before merge r+1 IS how BPE encodes (merges apply
# in learned priority order), so the encode trajectory replays the
# training trajectory verbatim.  No UDFs; every count is an exact
# bigint.  The merge table is a broadcast 1-row frame per rank; the only
# corpus-scale stages are the initial word-type collapse and the final
# token-frequency aggregate, both partial-combining hash aggregates.
#
# Float discipline (the queries module docstring): zero floats anywhere —
# counts, lengths, mass totals and the per-mille fertility are all exact
# integers.

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


# unigram-LM (SentencePiece-style) tokenizer
# training — the OTHER tokenizer real pipelines train, completing the
# family next to BPE learn/encode/pairs/coverage/fertility.
#
# Kudo 2018 (arXiv:1804.10959) trains a unigram language model over a
# seed vocabulary of frequent substrings, alternating (E) Viterbi
# segmentation of the corpus under current piece probabilities with
# (M) re-estimation from piece usage, pruning the least-useful pieces
# each round.  This implementation keeps that loop's exact structure —
# seed from substring counts, bounded EM-prune rounds, per-round
# re-normalized piece costs, single characters never pruned (coverage
# guarantee) — with every arithmetic step pinned for cross-engine
# replay:
#
# - Piece costs are INTEGER micro-nats (round(-ln p * 1e6)), so Viterbi
#   path scores are exact bigint sums — order-independent, no float
#   drift between engines.
# - Viterbi ties are fully pinned lexicographically by (total cost ASC,
#   piece count ASC, segmentation text ASC).  The DP keeps one best
#   tuple per prefix; optimal substructure holds for this order because
#   extensions add identical (cost, count) increments and equal-length
#   prefix strings compare stably.
# - The Spark side runs TRUE Viterbi: per word type, one `aggregate`
#   fold over character positions whose accumulator is the dp array of
#   (cost, n_pieces, seg) structs, with candidate edges (the substrings
#   that are vocabulary pieces) pre-joined per word.  All JVM-side
#   higher-order functions — no UDF, no explosion in word length.
# - The DuckDB oracle brute-forces every segmentation (cut-mask
#   enumeration, piece length <= {max_piece}) and picks the same pinned
#   argmin — an independent check that the DP IS the argmin, not just a
#   replay of it.
#
# Scale shape: the corpus collapses ONCE to weighted word TYPES (the
# same reduction as tokenizer_bpe_learn — types, not tokens, cross the
# EM loop); each round is a broadcast of the (bounded, <= chars +
# {seed_topk}) vocabulary against the checkpointed candidate grid, one
# fold, and two tiny aggregates.  Word types longer than {max_word}
# chars are excluded here (at 100 TB they take the char-fallback path);
# on this corpus no type exceeds it, so the mass-conservation verdict
# covers the whole corpus.

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


# corpus-frequency boilerplate-line removal — the
# CCNet/RefinedWeb curation step the text family was missing.
#
# Web corpora carry per-SITE boilerplate (cookie banners, nav bars,
# copyright footers) that survives document-level dedup because every
# PAGE is unique while its FURNITURE repeats.  The standard fix filters
# at LINE granularity by corpus frequency: a line occurring in more than
# a small fraction of documents is furniture, not content, and is
# dropped from every document that carries it.
#
# The testdata texts are single-line word streams, so the boilerplate is
# PLANTED structurally: a newsletter banner is prepended to every fourth
# document and a copyright footer appended to every English document
# (newline-joined).  Organic bodies are unique (document frequency 1)
# and must survive untouched — the in-plan ``bodies_intact`` verdict
# checks, per language, that retained characters exactly equal the
# original body mass.  Thresholding is exact integer arithmetic
# (df * 1000 > n_docs * {thr_permille}), so the removed-line set is
# engine-identical.
#
# Scale shape: one map-side line explode; the document-frequency aggregate
# shuffles md5(line) hashes (fixed width, never the line text — the
# decontam discipline); the boilerplate set is orders of magnitude smaller
# than the corpus and broadcasts back for the filter; the report is one
# per-language aggregate. No window, no self-join, no driver-side state.

_BP_BANNER = "subscribe to our newsletter for daily updates"
_BP_FOOTER = "copyright example site all rights reserved"
_BP_THR_PERMILLE = 20  # a line in > 2% of docs is furniture


@register(
    "text_boilerplate_lines",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, lang, text,
               CASE WHEN doc_id % 4 = 1 AND lang = 'en'
                    THEN '{_BP_BANNER}' || chr(10) || text
                         || chr(10) || '{_BP_FOOTER}'
                    WHEN doc_id % 4 = 1
                    THEN '{_BP_BANNER}' || chr(10) || text
                    WHEN lang = 'en'
                    THEN text || chr(10) || '{_BP_FOOTER}'
                    ELSE text END AS page
        FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
    lines AS (
        SELECT doc_id, lang, unnest(string_split(page, chr(10))) AS line
        FROM docs
    ),
    df AS (
        SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM lines GROUP BY line
    ),
    flagged AS (
        SELECT l.doc_id, l.lang, l.line, d.doc_freq,
               d.doc_freq * 1000 > n.n_docs * {_BP_THR_PERMILLE} AS is_boiler
        FROM lines l JOIN df d USING (line) CROSS JOIN n
    ),
    body AS (
        SELECT lang, CAST(sum(len(text)) AS BIGINT) AS body_chars
        FROM documents GROUP BY lang
    )
    SELECT f.lang,
           CAST(count(DISTINCT f.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS lines_before,
           CAST(count(*) FILTER (WHERE f.is_boiler) AS BIGINT)
               AS lines_removed,
           CAST(sum(len(f.line)) AS BIGINT) AS chars_before,
           CAST(sum(len(f.line)) FILTER (WHERE NOT f.is_boiler) AS BIGINT)
               AS chars_after,
           CAST(sum(len(f.line)) FILTER (WHERE NOT f.is_boiler)
                AS BIGINT) * 1000
               // CAST(sum(len(f.line)) AS BIGINT) AS retained_permille,
           CAST(sum(len(f.line)) FILTER (WHERE NOT f.is_boiler) AS BIGINT)
               = b.body_chars AS bodies_intact
    FROM flagged f JOIN body b USING (lang)
    GROUP BY f.lang, b.body_chars
    ORDER BY f.lang
    """,
    doc="Corpus-frequency boilerplate-line removal (the CCNet/RefinedWeb "
        "furniture filter): lines occurring in > "
        f"{_BP_THR_PERMILLE / 10}% of documents are dropped from every "
        "page that carries them. Boilerplate is planted structurally (a "
        "banner on every 4th doc, a footer on every English doc, "
        "newline-joined); organic bodies have document frequency 1 and "
        "must survive byte-exactly — the per-language bodies_intact "
        "verdict compares retained characters to the original body "
        "mass. Exact integer thresholding (df*1000 > n_docs*"
        f"{_BP_THR_PERMILLE}) makes the removed set engine-identical. "
        "100 TB shape: map-side line explode, document-frequency "
        "aggregate shuffling fixed-width line HASHES (never text), the "
        "tiny furniture set broadcast back for the filter, one "
        "per-language report aggregate — no window, no self-join. At "
        "real scale the df aggregate is the only corpus-sized shuffle "
        "and partial-combines map-side.",
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    page = (
        F.when(
            (F.col("doc_id") % 4 == 1) & (F.col("lang") == "en"),
            F.concat(
                F.lit(_BP_BANNER + "\n"), F.col("text"), F.lit("\n" + _BP_FOOTER)
            ),
        )
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit(_BP_BANNER + "\n"), "text"))
        .when(F.col("lang") == "en", F.concat("text", F.lit("\n" + _BP_FOOTER)))
        .otherwise(F.col("text"))
    )
    # one scan: pages feed the line explode AND the per-lang body mass
    paged = docs.select("doc_id", "lang", "text", page.alias("page")).localCheckpoint()
    lines = paged.select(
        "doc_id",
        "lang",
        F.explode(F.split("page", "\n")).alias("line"),
    ).withColumn("line_h", F.md5("line"))
    n_docs = paged.agg(F.count("*").cast("bigint").alias("n_docs"))
    # document frequency shuffles the 32-char md5, never the line text
    df_freq = lines.groupBy("line_h").agg(
        F.countDistinct("doc_id").cast("bigint").alias("doc_freq")
    )
    boiler = (
        df_freq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_freq") * 1000 > F.col("n_docs") * _BP_THR_PERMILLE)
        .select("line_h")
    )
    flagged = lines.join(
        F.broadcast(boiler.withColumn("_b", F.lit(True))), "line_h", "left"
    ).withColumn("is_boiler", F.coalesce("_b", F.lit(False)))
    body = paged.groupBy("lang").agg(
        F.sum(F.length("text")).cast("bigint").alias("body_chars")
    )
    kept_chars = F.sum(
        F.when(~F.col("is_boiler"), F.length("line")).otherwise(F.lit(0))
    ).cast("bigint")
    return (
        flagged.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("lines_before"),
            F.sum(F.col("is_boiler").cast("long")).cast("bigint").alias(
                "lines_removed"
            ),
            F.sum(F.length("line")).cast("bigint").alias("chars_before"),
            kept_chars.alias("chars_after"),
        )
        .withColumn(
            "retained_permille",
            F.expr("chars_after * 1000 div chars_before"),
        )
        .join(body, "lang")
        .withColumn("bodies_intact", F.col("chars_after") == F.col("body_chars"))
        .drop("body_chars")
        .orderBy("lang")
    )


# unigram-LM tokenizer ENCODE (inference).
#
# ``tokenizer_unigram_lm`` TRAINS a unigram vocabulary;
# ``tokenizer_bpe_encode`` applies a BPE merge table.  The missing
# quadrant is unigram INFERENCE: segment a corpus against a FIXED,
# already-trained piece inventory — the shape every tokenization job at
# 100 TB actually runs (the vocabulary is a tiny artifact loaded from
# storage; training happened once, elsewhere).
#
# The vocabulary here is a pinned literal piece list (multi-char pieces
# with integer micro-nat costs — domain words of this corpus plus
# sub-word units like 'er'/'st'/'ow' so longer words genuinely compose)
# plus SentencePiece's BYTE-FALLBACK: every single character observed in
# the corpus is a piece at a deliberately expensive fixed cost, so every
# word is segmentable and fallback usage is a MEASURED quality signal,
# not a crash.  Viterbi segmentation per word TYPE via the shared JVM
# fold (operators/unigram.segment_words — one ``aggregate`` per type,
# ties fully pinned); the word-type frame crosses the fold, never the
# token stream.
#
# Output is the per-language tokenizer scorecard: fertility
# (pieces per word, milli), char-fallback share of emitted pieces
# (permille), distinct word types, token counts — with an in-plan
# ``all_segmentable`` verdict (char fallback makes it structurally true;
# the verdict certifies the plumbing, the DuckDB oracle brute-forces
# every 2^(n-1) cut mask to certify the fold IS the argmin).

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
