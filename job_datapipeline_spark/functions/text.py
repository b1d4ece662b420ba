"""Text-analysis expressions for the training-data-pipeline surface.

All native Column expressions (JVM-side, codegen'd) — tokenization, n-gram
shingles, fingerprints, quality scoring, language-ID heuristic, token
counting. Modeled after the reference's tokenize/semi-join/count pipeline
(data_populator/populator.py:39-46) and extended per the 100 TB pipeline
requirements (dedup, quality filtering, lang-ID).

Design rule: every hash used for dedup/minhash is md5-based so an external
SQL oracle (DuckDB) can recompute bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small multilingual stopword marker set for the lang-ID heuristic and the
# quality-score stopword ratio. Public knowledge (common function words).
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def tokenize(text: Column) -> Column:
    """F7 (populator.py:44): lowercase + whitespace split, trimmed first so a
    leading/trailing blank never yields an empty token."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count — the cheap length signal quality filters use."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(tokenize(text))).cast("bigint")


def word_ngrams(tokens: Column, n: int) -> Column:
    """n-gram shingles over a token array: array of space-joined n-grams.

    Pure expression (transform + slice) — no UDF, so shingling of a 100 TB
    corpus stays inside whole-stage codegen.
    """
    count = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), count)
    return F.when(F.size(tokens) >= n,
                  F.transform(idx, lambda i: F.array_join(F.slice(tokens, i, n), " "))
                  ).otherwise(F.array().cast("array<string>"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercase, collapsed
    whitespace). Identical-content detection that survives formatting noise.
    md5 so DuckDB reproduces it byte-for-byte."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(norm)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation (quality signal)."""
    n = F.length(text)
    p = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(tokens: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))
    n = F.size(tokens)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


# Tiny per-language stopword marker lists for the n-gram/stopword lang-ID
# heuristic (public common function words).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}


def lang_id(text: Column) -> Column:
    """Heuristic language ID: count marker-word hits per language over the
    token set, take the argmax (ties broken by language code asc), 'und'
    when nothing matches. Expression-only."""
    toks = tokenize(text)
    scores = []
    for code in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[code]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
        scores.append(F.struct(hits.alias("hits"), F.lit(code).alias("code")))
    # argmax by (hits desc, code asc): array_max on struct compares fields in
    # order, so store (hits, negated-rank-free code) — use reverse trick:
    best = F.array_max(F.array(*[
        F.struct(s.hits.alias("hits"), (F.lit(-i)).alias("tiebreak"), s.code.alias("code"))
        for i, s in enumerate(scores)
    ]))
    return F.when(best.hits > 0, best.code).otherwise(F.lit("und"))


def repetition_ratio(text: Column, n: int = 3) -> Column:
    """Fraction of repeated word n-grams: 1 - distinct/total (the
    Gopher-rules-style within-document repetition signal — templated or
    looping text scores high). 0.0 for docs shorter than ``n`` tokens.

    Hot-path caveat: this inlines the n-gram array into every reference
    (3x tokenize+shingle per row under CollapseProject). Bulk scoring
    should pre-project ``word_ngrams(tokenize(text), n)`` once and apply
    :func:`repetition_ratio_of_grams` — measured 2.9x faster at sf0.1."""
    return repetition_ratio_of_grams(word_ngrams(tokenize(text), n))


def repetition_ratio_of_grams(grams: Column) -> Column:
    """Repetition ratio over an already-materialized n-gram array column —
    the projection-friendly form (see :func:`repetition_ratio`)."""
    total = F.size(grams)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


# (pattern, replacement) chain for PII redaction, applied in order: email
# first (its local part would otherwise feed the phone pattern), then phone,
# then bare IPv4. Patterns are RE2-and-Java compatible so an external SQL
# engine applies the identical chain.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?\d[\d -]{7,}\d", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(text: Column) -> Column:
    """Mask emails / phone numbers / IPv4 addresses with typed tags — the
    standard pre-training scrub pass. A regexp_replace chain (JVM-side,
    streaming-safe); extend PII_PATTERNS for additional classes."""
    out = text
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out
