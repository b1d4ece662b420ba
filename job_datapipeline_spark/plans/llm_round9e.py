"""Round-9 fifth batch: corpus-frequency boilerplate-line removal — the
CCNet/RefinedWeb curation step the text family was missing.

Web corpora carry per-SITE boilerplate (cookie banners, nav bars,
copyright footers) that survives document-level dedup because every
PAGE is unique while its FURNITURE repeats.  The standard fix filters
at LINE granularity by corpus frequency: a line occurring in more than
a small fraction of documents is furniture, not content, and is
dropped from every document that carries it.

The testdata texts are single-line word streams, so the boilerplate is
PLANTED structurally: a newsletter banner is prepended to every fourth
document and a copyright footer appended to every English document
(newline-joined).  Organic bodies are unique (document frequency 1)
and must survive untouched — the in-plan ``bodies_intact`` verdict
checks, per language, that retained characters exactly equal the
original body mass.  Thresholding is exact integer arithmetic
(df * 1000 > n_docs * {thr_permille}), so the removed-line set is
engine-identical.

Reference parity: none (the reference scrapes structured HTML fields;
it never sees free-text furniture).  Scale shape: one map-side line
explode; the document-frequency aggregate shuffles md5(line) hashes
(fixed width, never the line text — the decontam discipline); the
boilerplate set is orders of magnitude smaller than the corpus and
broadcasts back for the filter; the report is one per-language
aggregate.  No window, no self-join, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

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
