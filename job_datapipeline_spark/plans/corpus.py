"""Training-corpus curation: sampling and mixtures (Bernoulli,
stratified, temperature, DSIR, token budgets, raking, epoch caps),
splits, packing, decontamination (n-gram, semantic, coverage), quality
ablations, drift reports, curriculum and preference pairs, and the
composed curation funnels.

Every random choice is an md5 draw on a salted key, so sampling is
replayable by the oracle row by row.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import text as _T
from ..functions.text import fingerprint, tokenize
from ..operators import decontam as _DC
from ..operators import sampling as _SMP
from ..operators.decontam import cell_probe_flags
from ..operators.decontam import SEM_CENTROID_IDS as _DECON_SEM_CENTROIDS
from ..operators.decontam import SEM_NPROBE as _DECON_SEM_NPROBE
from ..operators.decontam import SEM_THRESHOLD as _DECON_SEM_THRESHOLD
from ..operators.ranks import exact_ntile
from ..operators.sampling import epoch_upsample, temperature_sample
from ..operators.topk import top_k_per_group
from .common import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    DEDUP_PAIR_FLOOR,
    LANGID_SQL_SCORES,
    QC_BIAS,
    QC_BUCKETS,
    QC_WEIGHTS,
    SCORE_SQL,
    SQL_CORPUS,
    SQL_ISLANDS,
    cum_small,
    gopher_keep,
    gopher_stat_columns,
    merge_fixed_spans,
    planted_corpus,
    planted_dedup_artifact,
    qc_doc_micros,
    qc_score,
    score_micro,
    sql_shingles,
)
from .registry import register


_BERNOULLI_FRACTION = 0.25
_BERNOULLI_SALT = "mix-v1"


@register(
    "corpus_sample_bernoulli",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE substring(md5('{_BERNOULLI_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)
          < '{_SMP.sample_threshold_hex(_BERNOULLI_FRACTION)}'
    """,
    doc="Deterministic Bernoulli corpus sample (~25%): keep iff the first 4 "
        "hex chars of md5(salt:doc_id) sort below the fraction threshold. "
        "Pure map-side filter — no shuffle, no RNG state, identical row set "
        "on any engine/partitioning (unlike df.sample). The salt selects an "
        "independent re-draw.",
)
def corpus_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return _SMP.deterministic_sample(
        docs, "doc_id", _BERNOULLI_FRACTION, salt=_BERNOULLI_SALT
    ).select("doc_id", "lang")


_STRAT_K = 20
_STRAT_SALT = "holdout-v1"


@register(
    "corpus_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substring(md5('{_STRAT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4),
                            doc_id) AS rn
        FROM documents) x
    WHERE rn <= {_STRAT_K}
    """,
    doc=f"Deterministic stratified sample: exactly min({_STRAT_K}, group "
        "size) docs per language — the k smallest md5(salt:doc_id) draws, "
        "ties by doc_id. One window shuffle on the group key; the "
        "reproducible per-stratum eval-holdout pattern.",
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return _SMP.stratified_sample_k(
        docs, "lang", "doc_id", _STRAT_K, salt=_STRAT_SALT
    ).select("doc_id", "lang")


_CUR_SALT = "cur-v1"
_CUR_FRACTION = 0.5


@register(
    "corpus_curation",
    oracle=f"""
    WITH {SQL_CORPUS},
    t AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM corpus
    ),
    scored AS (
        SELECT doc_id, text, toks, {", ".join(LANGID_SQL_SCORES)}
        FROM t
    ),
    feat AS (
        SELECT doc_id,
               CASE
                 WHEN greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) = 0 THEN 'und'
                 WHEN hits_de >= greatest(hits_en, hits_es, hits_fr, hits_zh) THEN 'de'
                 WHEN hits_en >= greatest(hits_es, hits_fr, hits_zh) THEN 'en'
                 WHEN hits_es >= greatest(hits_fr, hits_zh) THEN 'es'
                 WHEN hits_fr >= hits_zh THEN 'fr'
                 ELSE 'zh'
               END AS pred,
               CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n_tokens,
               coalesce(round(CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                     / nullif(length(text), 0), 4), 0.0) AS pr,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        FROM scored
    ),
    filt AS (
        SELECT doc_id, n_tokens, fp FROM feat
        WHERE pred = 'en' AND n_tokens >= 10 AND pr <= 0.2
    ),
    ded AS (
        SELECT doc_id, n_tokens FROM (
            SELECT doc_id, n_tokens,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM filt) x
        WHERE rn = 1
    )
    SELECT doc_id, n_tokens FROM ded
    WHERE substring(md5('{_CUR_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)
          < '{_SMP.sample_threshold_hex(_CUR_FRACTION)}'
    """,
    doc="The composed corpus-curation pipeline over the planted-duplicate "
        "corpus: lang-ID filter (predicted en) -> quality gates (>=10 "
        "tokens, punct ratio <= 0.2) -> exact dedup (keep lowest id per "
        "content fingerprint; the planted exact copies drop here) -> "
        "deterministic 50% subsample. Filters and fingerprint are map-side; "
        "the only shuffles are the dedup window and none for the sample — "
        "the canonical pretraining-data funnel as ONE declarative plan.",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = planted_corpus(spark, sf_dir)
    feat = corpus.select(
        "doc_id",
        _T.lang_id(F.col("text")).alias("pred"),
        _T.token_count(F.col("text")).alias("n_tokens"),
        F.round(_T.punct_ratio(F.col("text")), 4).alias("pr"),
        _T.fingerprint(F.col("text")).alias("fp"),
    )
    filt = feat.filter(
        (F.col("pred") == "en") & (F.col("n_tokens") >= 10) & (F.col("pr") <= 0.2)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    ded = (
        filt.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "n_tokens")
    )
    return _SMP.deterministic_sample(ded, "doc_id", _CUR_FRACTION, salt=_CUR_SALT)


# ---------------------------------------------------------------------------
# Training-data pipeline: splits, packing, decontamination, LM scoring
# ---------------------------------------------------------------------------


_SPLIT_SALT = "split-v1"
_SPLIT_BOUNDS = [("train", 0.8), ("val", 0.9), ("test", 1.0)]
_SQL_TOKEN_COUNT = (
    "CAST(CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS BIGINT)"
)


@register(
    "corpus_split_train_eval",
    oracle=f"""
    WITH t AS (
        SELECT CASE
                 WHEN substring(md5('{_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)
                      < '{_SMP.sample_threshold_hex(0.8)}' THEN 'train'
                 WHEN substring(md5('{_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)
                      < '{_SMP.sample_threshold_hex(0.9)}' THEN 'val'
                 ELSE 'test'
               END AS split,
               {_SQL_TOKEN_COUNT} AS n_tokens
        FROM documents
    )
    SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM t GROUP BY split
    """,
    doc="Deterministic 80/10/10 train/val/test assignment by md5(salt:doc_id) "
        "threshold (operators/sampling.split_assign) + per-split doc/token "
        "totals. Map-side CASE — no shuffle for the assignment itself; "
        "membership is stable across runs, engines, and repartitions, which "
        "is the property a training-data split must have.",
)
def corpus_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    assigned = _SMP.split_assign(docs, "doc_id", _SPLIT_BOUNDS, salt=_SPLIT_SALT)
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(_T.token_count(F.col("text"))).alias("sum_tokens"),
    )


_PACK_SALT = "pack-v1"
_PACK_CAPACITY = 512


@register(
    "corpus_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {_SQL_TOKEN_COUNT} AS n_tokens,
               substring(md5('{_PACK_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4) AS draw
        FROM documents
    ), b AS (
        SELECT doc_id, n_tokens, draw,
               CAST(strpos('0123456789abcdef', substring(draw, 1, 1)) - 1 AS INT) AS bucket
        FROM t
    ), s AS (
        SELECT bucket, n_tokens,
               sum(n_tokens) OVER (PARTITION BY bucket ORDER BY draw, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start
        FROM b
    )
    SELECT bucket,
           CAST(floor(CAST(start AS DOUBLE) / {_PACK_CAPACITY}) AS BIGINT) AS seq,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM s GROUP BY bucket, seq
    """,
    doc=f"Sequence packing for training: deterministic md5 shuffle -> 16 "
        f"independent hash buckets -> running token count -> pack id "
        f"floor(start/{_PACK_CAPACITY}) (operators/sampling.pack_sequences). "
        "The bucket dimension is what keeps the cumulative sum parallel at "
        "100 TB — one window shuffle partitioned 16 ways instead of a "
        "corpus-wide serial prefix sum. Output is per-pack doc/token "
        "totals.",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _T.token_count(F.col("text")).alias("n_tokens")
    )
    packed = _SMP.pack_sequences(
        docs, "doc_id", "n_tokens", _PACK_CAPACITY, salt=_PACK_SALT, n_buckets=16
    )
    return packed.groupBy("bucket", "seq").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )


_BENCH_SALT = "bench-v1"
_BENCH_FRACTION = 0.10
_DECON_N = 8


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH bench AS (
        SELECT doc_id, text FROM documents
        WHERE substring(md5('{_BENCH_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)
              < '{_SMP.sample_threshold_hex(_BENCH_FRACTION)}'
    ), corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, text || ' zz tail marker' AS text FROM bench
    ), cg AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= {_DECON_N}
                               THEN [array_to_string(t[i:i+{_DECON_N - 1}], ' ')
                                     FOR i IN range(1, len(t) - {_DECON_N - 2})]
                               ELSE [] END) AS gram
            FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM corpus) x) u
    ), bg AS (
        SELECT DISTINCT doc_id AS bench_id, gram FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= {_DECON_N}
                               THEN [array_to_string(t[i:i+{_DECON_N - 1}], ' ')
                                     FOR i IN range(1, len(t) - {_DECON_N - 2})]
                               ELSE [] END) AS gram
            FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM bench) x) u
    )
    SELECT doc_id,
           count(DISTINCT gram) AS n_shared_grams,
           count(DISTINCT bench_id) AS n_bench_docs
    FROM cg JOIN bg USING (gram)
    WHERE doc_id <> bench_id
    GROUP BY doc_id
    """,
    doc=f"Benchmark decontamination (operators/decontam.ngram_overlap_flags): "
        f"flag corpus docs sharing any word {_DECON_N}-gram with a held-out "
        "benchmark set — the GPT-3-style n-gram overlap hygiene filter. The "
        "benchmark is a deterministic 10% md5 sample; contaminated docs are "
        "planted as benchmark texts with a tail suffix (testdata texts are "
        "unique, so organic overlap cannot occur). Join key is md5(gram) — "
        "fixed-width shuffle payload; the benchmark side broadcasts at real "
        "corpus:benchmark ratios.",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = _SMP.deterministic_sample(docs, "doc_id", _BENCH_FRACTION, salt=_BENCH_SALT)
    planted = bench.select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz tail marker")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    return _DC.ngram_overlap_flags(corpus, bench, n=_DECON_N)


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               sum(CAST(n_chars AS DOUBLE)) AS sw
        FROM documents),
    kept AS (
        SELECT d.lang, d.n_chars
        FROM documents d, tot
        WHERE d.n_chars > 0
          AND substring(md5('wsamp:' || CAST(d.doc_id AS VARCHAR)), 1, 8) <
              (CASE WHEN least(0.3 * tot.n / tot.sw * CAST(d.n_chars AS DOUBLE), 1.0) >= 1.0
                    THEN 'g'
                    ELSE lower(lpad(to_hex(CAST(floor(
                         least(0.3 * tot.n / tot.sw * CAST(d.n_chars AS DOUBLE), 1.0)
                         * 4294967296.0) AS BIGINT)), 8, '0'))
               END))
    SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM kept GROUP BY lang
    """,
    doc="Per-row weighted sampling (operators/sampling.weighted_sample): "
        "survival probability proportional to a weight column (here "
        "n_chars — longer docs likelier kept), normalized in-plan so the "
        "expected kept fraction is 30%. The temperature-style corpus "
        "reweighting step, built from multiply/divide/floor only (no "
        "pow/ln whose last-ulp behavior varies across libm "
        "implementations), so the oracle replays the exact kept set "
        "including the data-dependent normalizer.",
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    kept = _SMP.weighted_sample(docs, "doc_id", "n_chars", 0.3, salt="wsamp")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


_MIXTURE_WEIGHTS = {"en": 0.25, "de": 0.1875, "es": 0.1875, "fr": 0.1875, "zh": 0.1875}


@register(
    "corpus_mixture_sample",
    oracle="""
    WITH w AS (
        SELECT * FROM (VALUES
            ('de', CAST(0.1875 AS DOUBLE)), ('en', CAST(0.25 AS DOUBLE)),
            ('es', CAST(0.1875 AS DOUBLE)), ('fr', CAST(0.1875 AS DOUBLE)),
            ('zh', CAST(0.1875 AS DOUBLE))) AS t(lang, w)),
    cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    cw AS (SELECT c.lang, c.n, w.w, CAST(c.n AS DOUBLE) / w.w AS ratio
           FROM cnt c JOIN w USING (lang)),
    m AS (SELECT min(ratio) AS m FROM cw),
    probs AS (
        SELECT lang,
               CASE WHEN p >= 1.0 THEN 'g'
                    ELSE lower(lpad(to_hex(CAST(floor(p * 4294967296.0) AS BIGINT)), 8, '0'))
               END AS thr
        FROM (SELECT cw.lang, least(cw.w * m.m / CAST(cw.n AS DOUBLE), 1.0) AS p
              FROM cw, m) x),
    kept AS (
        SELECT d.lang, d.doc_id
        FROM documents d JOIN probs p USING (lang)
        WHERE substring(md5('mix1:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < p.thr)
    SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang
    """,
    doc="Domain/language mixture resampling (operators/sampling."
        "mixture_sample) — the target-proportions step of a pretraining "
        "data recipe: per-group keep probabilities p_g = w_g*M/n_g with "
        "M = min(n_g/w_g) computed IN-PLAN (largest exact-mixture corpus "
        "without upsampling), md5-drawn per doc against a per-group hex "
        "threshold built from identical double arithmetic on both engines "
        "— the oracle replays the exact kept set including the "
        "data-dependent probabilities. One narrow count, one broadcast "
        "probability dim, one map-side filter.",
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    kept = _SMP.mixture_sample(docs, "lang", _MIXTURE_WEIGHTS, "doc_id", salt="mix1")
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


_FUNNEL_SAMPLE_P = 0.5
_FUNNEL_SALT = "funnel1"


@register(
    "corpus_funnel_report",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE trim(text) <> ''),
    t AS (SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
          FROM base),
    c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY doc_id, tok),
    s AS (SELECT doc_id,
                 CAST(sum(n) AS BIGINT) AS nw,
                 CAST(max(n) AS BIGINT) AS tn,
                 CAST(count(*) AS BIGINT) AS nu,
                 CAST(sum(n * length(tok)) AS BIGINT) AS cs
          FROM c GROUP BY doc_id),
    q AS (
        SELECT b.doc_id, b.text FROM base b JOIN s USING (doc_id)
        WHERE s.nw BETWEEN 40 AND 500
          AND round(s.cs / s.nw, 4) BETWEEN 2.5 AND 8.0
          AND round(s.tn / s.nw, 4) <= 0.12
          AND round(s.nu / s.nw, 4) >= 0.4),
    ded AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (
                       PARTITION BY md5(regexp_replace(trim(lower(text)),
                                                       '\\s+', ' ', 'g'))
                       ORDER BY doc_id) AS rn
            FROM q) x
        WHERE rn = 1),
    bench AS (
        SELECT doc_id, text FROM documents
        WHERE substring(md5('{_BENCH_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)
              < '{{bench_thr}}'),
    dg AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= {_DECON_N}
                               THEN [array_to_string(t[i:i+{_DECON_N - 1}], ' ')
                                     FOR i IN range(1, len(t) - {_DECON_N - 2})]
                               ELSE [] END) AS gram
            FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM ded) x) u),
    bg AS (
        SELECT DISTINCT doc_id AS bench_id, gram FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= {_DECON_N}
                               THEN [array_to_string(t[i:i+{_DECON_N - 1}], ' ')
                                     FOR i IN range(1, len(t) - {_DECON_N - 2})]
                               ELSE [] END) AS gram
            FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM bench) x) u),
    flagged AS (
        SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (gram)
        WHERE dg.doc_id <> bg.bench_id),
    clean AS (
        SELECT d.doc_id FROM ded d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM bench)
          AND d.doc_id NOT IN (SELECT doc_id FROM flagged)),
    sampled AS (
        SELECT doc_id FROM clean
        WHERE substring(md5('{_FUNNEL_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)
              < '{{sample_thr}}')
    SELECT 1 AS stage_idx, 'total' AS stage,
           (SELECT count(*) FROM base) AS n_docs
    UNION ALL SELECT 2, 'quality', (SELECT count(*) FROM q)
    UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM ded)
    UNION ALL SELECT 4, 'decontaminated', (SELECT count(*) FROM clean)
    UNION ALL SELECT 5, 'sampled', (SELECT count(*) FROM sampled)
    """.replace("{bench_thr}", _SMP.sample_threshold_hex(_BENCH_FRACTION))
       .replace("{sample_thr}", _SMP.sample_threshold_hex(_FUNNEL_SAMPLE_P)),
    doc="THE COMPOSED PIPELINE SHOWPIECE — a full training-data curation "
        "funnel with per-stage observability, the report a data-pipeline "
        "dashboard shows: total -> Gopher quality rules (shared "
        "expressions with text_gopher_rules, so the stages can't drift) "
        "-> exact dedup (keep-min-id per fingerprint) -> benchmark "
        "decontamination (8-gram overlap + eval-member removal) -> "
        "deterministic 50% sample. Every stage is expression-level and "
        "md5-replayable, so the oracle reproduces each count exactly. "
        "Stage boundaries localCheckpoint — the test-scale form of "
        "persisting intermediate tables between 100 TB pipeline stages.",
)
def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import ngram_overlap_flags as _overlap
    from ..operators.sampling import deterministic_sample as _dsample

    all_docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = all_docs.filter(F.trim(F.col("text")) != "")
    stats = gopher_stat_columns()
    q = (
        base.select(
            "doc_id",
            "text",
            stats["n_words"].alias("n_words"),
            stats["top_n"].alias("top_n"),
            stats["n_uniq"].alias("n_uniq"),
            stats["char_sum"].alias("char_sum"),
        )
        .filter(gopher_keep())
        .select("doc_id", "text")
    )
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    # stage boundaries are checkpointed: each later count builds on the
    # materialized survivor set, not a re-derivation of the whole chain —
    # at 100 TB these are persisted tables between pipeline stages
    ded = (
        q.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint()
    )
    bench = _dsample(all_docs, "doc_id", _BENCH_FRACTION, salt=_BENCH_SALT)
    flagged = _overlap(ded, bench, n=_DECON_N).select("doc_id")
    clean = (
        ded.join(bench.select("doc_id"), "doc_id", "left_anti")
        .join(flagged, "doc_id", "left_anti")
        .localCheckpoint()
    )
    sampled = _dsample(clean, "doc_id", _FUNNEL_SAMPLE_P, salt=_FUNNEL_SALT)

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count("*").cast("bigint").alias("n_docs"),
        )

    out = stage(1, "total", base)
    for s in (
        stage(2, "quality", q),
        stage(3, "exact_dedup", ded),
        stage(4, "decontaminated", clean),
        stage(5, "sampled", sampled),
    ):
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# Temperature-scaled domain rebalancing
# ---------------------------------------------------------------------------
#
# Temperature sampling (the ``p_g ~ n_g^alpha`` multilingual rebalancing
# rule of mBERT/XLM-R/mT5): the data-dependent generalization of
# corpus_mixture_sample's fixed target shares.


@register(
    "corpus_temperature_sample",
    oracle="""
    WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    mr AS (SELECT min(CAST(n AS DOUBLE) / sqrt(CAST(n AS DOUBLE))) AS m FROM cnt),
    probs AS (
        SELECT lang,
               CASE WHEN p >= 1.0 THEN 'g'
                    ELSE lower(lpad(to_hex(CAST(floor(p * 4294967296.0) AS BIGINT)), 8, '0'))
               END AS thr
        FROM (SELECT cnt.lang,
                     least(sqrt(CAST(cnt.n AS DOUBLE)) * mr.m / CAST(cnt.n AS DOUBLE),
                           1.0) AS p
              FROM cnt, mr) x),
    kept AS (
        SELECT d.lang, d.doc_id
        FROM documents d JOIN probs p USING (lang)
        WHERE substring(md5('temp1:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < p.thr)
    SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang ORDER BY lang
    """,
    doc="Temperature-scaled language rebalancing (operators/sampling."
        "temperature_sample, alpha=0.5): target share of group g "
        "proportional to n_g^alpha — the mBERT/XLM-R/mT5 multilingual "
        "recipe that flattens the head without uniforming the tail. The "
        "normalization constant cancels algebraically (p_g = "
        "sqrt(n_min/n_g) at alpha=.5), so the plan computes NO cross-"
        "group sum — only IEEE-exact sqrt/divide/min — and the md5-drawn "
        "kept set replays bit-exactly on any engine. Same scale shape as "
        "corpus_mixture_sample: narrow count agg, broadcast probability "
        "dim, map-side filter.",
)
def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    kept = temperature_sample(docs, "lang", "doc_id", alpha=0.5, salt="temp1")
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept")).orderBy("lang")


# ---------------------------------------------------------------------------
# Fractional epoch repetition (upsampling)
# ---------------------------------------------------------------------------

_EPOCHS = {"de": 2.0, "en": 0.5, "es": 1.25, "fr": 1.0, "zh": 3.5}


@register(
    "corpus_upsample_repeat",
    oracle=f"""
    WITH w(lang, whole, fthr) AS (VALUES {", ".join(
        f"('{g}', {int(w)}, '{format(min(int((w - int(w)) * 16**8), 16**8 - 1), '08x')}')"
        for g, w in sorted(_EPOCHS.items())
    )}),
    fanned AS (
        SELECT d.lang, d.doc_id,
               w.whole + CASE WHEN substring(md5('up1:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                                   < w.fthr THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN w USING (lang)
    )
    SELECT lang,
           count(*) AS n_source_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_emitted,
           CAST(max(n_copies) AS BIGINT) AS max_epochs
    FROM fanned
    WHERE n_copies > 0
    GROUP BY lang ORDER BY lang
    """,
    doc="Fractional epoch repetition (operators/sampling.upsample_repeat) "
        "— the UPSAMPLING half of a data-mixing recipe ('3.5 epochs of "
        "the rare language, half an epoch of the dominant one'): every "
        "doc emits floor(w) copies plus one more iff its md5 draw clears "
        "the frac(w) threshold, so expected volume is exactly w*n per "
        "group and the emitted multiset replays bit-identically in SQL. "
        "Map-side fan-out (broadcast dim join + explode(sequence)); the "
        "epoch column lets packing spread repeats across batches. "
        "Verified here as per-group emitted totals over the docs that "
        "emit at least one copy (a w<1 group drops the rest — the "
        "downsample-by-repetition degenerate case); max_epochs pins the "
        "ceil(w) bound.",
)
def corpus_upsample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import upsample_repeat

    docs = table(spark, sf_dir, "documents")
    fanned = upsample_repeat(docs, "lang", _EPOCHS, "doc_id", salt="up1")
    return (
        fanned.groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_source_docs"),
            F.count("*").alias("n_emitted"),
            (F.max("epoch") + 1).alias("max_epochs"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Chunk-level boilerplate dedup (composition: chunking -> exact dedup)
# ---------------------------------------------------------------------------


@register(
    "corpus_chunk_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ),
    sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
    chunks AS (
        SELECT doc_id, chunk_idx,
               substring(md5(array_to_string(
                   t[chunk_idx * {CHUNK_STRIDE} + 1 :
                     chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')), 1, 16)
                   AS chunk_hash
        FROM (SELECT doc_id, n, t,
                     unnest(range(0, 1 + CAST(ceil(greatest(n - {CHUNK_SIZE}, 0)
                                                   / {CHUNK_STRIDE}.0) AS BIGINT)))
                         AS chunk_idx
              FROM sized) x
    ),
    flagged AS (
        SELECT doc_id, chunk_idx,
               row_number() OVER (PARTITION BY chunk_hash
                                  ORDER BY doc_id, chunk_idx) > 1 AS is_dup
        FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS dup_frac
    FROM flagged
    GROUP BY doc_id
    HAVING sum(CASE WHEN is_dup THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
    doc="Chunk-level boilerplate removal — the composition of "
        "text_chunk_overlap with exact keep-first dedup ON THE CHUNK KEY: "
        "a chunk occurrence is duplicate if the same 16-hex chunk hash "
        "appears earlier in (doc_id, chunk_idx) order anywhere in the "
        "corpus (headers, footers, licence blocks — the CCNet-style "
        "repeated-span removal, at chunk rather than line granularity). "
        "One window over chunk_hash (the only shuffle beyond the map-side "
        "chunker), per-doc conditional counts, docs with no duplicate "
        "chunks filtered out. At 100 TB the hash window becomes a "
        "groupBy(chunk_hash).min(doc_id, chunk_idx) + join — same "
        "semantics, partial-aggregatable; the window form is the "
        "single-pass variant.",
)
def corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    t = tokenize(F.col("text"))
    sized = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    n_chunks = 1 + F.ceil(
        F.greatest(F.col("n") - CHUNK_SIZE, F.lit(0)) / float(CHUNK_STRIDE)
    ).cast("bigint")
    chunk = F.slice(F.col("t"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE)
    chunks = sized.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1))
    ).select(
        "doc_id",
        "chunk_idx",
        F.substring(F.md5(F.array_join(chunk, " ")), 1, 16).alias("chunk_hash"),
    )
    w = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    flagged = chunks.withColumn("is_dup", F.row_number().over(w) > 1)
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.round(
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0)) * 1.0 / F.count("*"), 4
            ).alias("dup_frac"),
        )
        .filter(F.col("n_dup_chunks") > 0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Flagship composition: BM25, temperature sampling and SemDeDup as ONE pipeline
# ---------------------------------------------------------------------------


@register(
    "corpus_pretrain_pipeline",
    oracle=f"""
    WITH w(bucket, wgt) AS (VALUES {', '.join(f"({b}, CAST({v} AS DOUBLE))" for b, v in QC_WEIGHTS)}),
    base AS (SELECT doc_id, lang, text FROM documents WHERE trim(text) <> ''),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM base
    ),
    feats AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 4)) AS INTEGER) % {QC_BUCKETS}
                   AS bucket,
               count(*) AS cnt
        FROM toks GROUP BY doc_id, bucket
    ),
    dl AS (SELECT doc_id, sum(cnt) AS dl FROM feats GROUP BY doc_id),
    z AS (
        SELECT f.doc_id,
               sum(CAST(round(w.wgt * f.cnt * 1000000.0 / dl.dl) AS BIGINT)) AS micros
        FROM feats f JOIN w USING (bucket) JOIN dl USING (doc_id)
        GROUP BY f.doc_id
    ),
    kept_docs AS (
        SELECT b.doc_id, b.lang, b.text
        FROM base b JOIN z USING (doc_id)
        WHERE round(1.0 / (1.0 + exp(-(z.micros / 1000000.0 + {QC_BIAS}))), 4) >= 0.5
    ),
    sized AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t,
                     len(string_split_regex(trim(lower(text)), '\\s+')) AS n
              FROM kept_docs),
    chunks AS (
        SELECT doc_id, lang, chunk_idx,
               substring(md5(array_to_string(
                   t[chunk_idx * {CHUNK_STRIDE} + 1 :
                     chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')), 1, 16)
                   AS chunk_hash
        FROM (SELECT doc_id, lang, n, t,
                     unnest(range(0, 1 + CAST(ceil(greatest(n - {CHUNK_SIZE}, 0)
                                                   / {CHUNK_STRIDE}.0) AS BIGINT)))
                         AS chunk_idx
              FROM sized) x
    ),
    uniq AS (
        SELECT doc_id, lang, chunk_idx FROM (
            SELECT doc_id, lang, chunk_idx,
                   row_number() OVER (PARTITION BY chunk_hash
                                      ORDER BY doc_id, chunk_idx) AS rn
            FROM chunks) y
        WHERE rn = 1
    ),
    cnt AS (SELECT lang, count(*) AS n FROM uniq GROUP BY lang),
    mr AS (SELECT min(CAST(n AS DOUBLE) / sqrt(CAST(n AS DOUBLE))) AS m FROM cnt),
    probs AS (
        SELECT lang,
               CASE WHEN p >= 1.0 THEN 'g'
                    ELSE lower(lpad(to_hex(CAST(floor(p * 4294967296.0) AS BIGINT)), 8, '0'))
               END AS thr
        FROM (SELECT cnt.lang,
                     least(sqrt(CAST(cnt.n AS DOUBLE)) * mr.m / CAST(cnt.n AS DOUBLE),
                           1.0) AS p
              FROM cnt, mr) x),
    sampled AS (
        SELECT u.lang FROM uniq u JOIN probs p USING (lang)
        WHERE substring(md5('pp1:' || CAST(u.doc_id AS VARCHAR) || ':' ||
                            CAST(u.chunk_idx AS VARCHAR)), 1, 8) < p.thr
    )
    SELECT stage, n FROM (
        SELECT 1 AS ord, 'docs_in' AS stage, (SELECT count(*) FROM base) AS n
        UNION ALL SELECT 2, 'docs_quality_kept', (SELECT count(*) FROM kept_docs)
        UNION ALL SELECT 3, 'chunks', (SELECT count(*) FROM chunks)
        UNION ALL SELECT 4, 'chunks_unique', (SELECT count(*) FROM uniq)
        UNION ALL SELECT 5, 'chunks_sampled', (SELECT count(*) FROM sampled)
    ) s ORDER BY ord
    """,
    doc="The round-4 operators composed as ONE pretraining-data pipeline "
        "with per-stage observability (the r4 twin of corpus_funnel_"
        "report): quality-classifier filter (hashed bag-of-words, "
        "broadcast weights, sigmoid >= 0.5) -> sliding token-window "
        "chunking -> corpus-wide keep-first chunk dedup -> temperature-"
        "scaled (alpha=0.5) language rebalancing of the surviving "
        "chunks, each stage's count emitted from the same declarative "
        "plan. Every stage is the already-verified operator: the "
        "composition adds joins, not new math, and the md5 draws key on "
        "(doc, chunk) so the sampled multiset replays exactly. Shuffle "
        "ledger: classifier feature agg + doclen reuse one checkpointed "
        "frame, the chunker is map-side, dedup is one window on "
        "chunk_hash, sampling is a broadcast-dim filter — four wide "
        "exchanges for a five-stage pipeline.",
)
def corpus_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    docs = docs.select("doc_id", "lang", "text").localCheckpoint()
    kept_docs = (
        docs.join(qc_doc_micros(spark, docs), "doc_id")
        .filter(qc_score() >= 0.5)
        .select("doc_id", "lang", "text")
    ).localCheckpoint()
    t = tokenize(F.col("text"))
    sized = kept_docs.select("doc_id", "lang", t.alias("t"), F.size(t).alias("n"))
    n_chunks = 1 + F.ceil(
        F.greatest(F.col("n") - CHUNK_SIZE, F.lit(0)) / float(CHUNK_STRIDE)
    ).cast("bigint")
    chunk = F.slice(F.col("t"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE)
    chunks = sized.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1))
    ).select(
        "doc_id",
        "lang",
        "chunk_idx",
        F.substring(F.md5(F.array_join(chunk, " ")), 1, 16).alias("chunk_hash"),
    ).localCheckpoint()
    w = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    uniq = (
        chunks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "chunk_idx")
        .localCheckpoint()
    )
    sampled = temperature_sample(
        uniq.withColumn(
            "ck",
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.col("chunk_idx").cast("string")
            ),
        ),
        "lang",
        "ck",
        alpha=0.5,
        salt="pp1",
    )

    def stage(ord_, name, df):
        return df.agg(F.count("*").alias("n")).select(
            F.lit(ord_).alias("_ord"), F.lit(name).alias("stage"), "n"
        )

    return (
        stage(1, "docs_in", docs)
        .unionByName(stage(2, "docs_quality_kept", kept_docs))
        .unionByName(stage(3, "chunks", chunks))
        .unionByName(stage(4, "chunks_unique", uniq))
        .unionByName(stage(5, "chunks_sampled", sampled))
        .orderBy("_ord")
        .drop("_ord")
    )


# Cross-engine float discipline (see the queries module docstring): every
# data-dependent threshold here is integer arithmetic (per-mille weights,
# micro-unit rates, cross-multiplied 16-bit md5 draws); the single
# transcendental (DSIR's ln) is taken once per hash bucket on a ratio of
# exact integers and immediately rounded to integer micro-units, so doc
# scores are exact bigint sums on both engines.

# ---------------------------------------------------------------------------
# Domain cap
# ---------------------------------------------------------------------------
#
# Domain cap (CCNet / RefinedWeb-style): bound any single domain's
# contribution by keeping only its top-k documents by a quality key —
# the guard against one crawl-heavy host dominating the mixture.

_DOMCAP_K = 5


@register(
    "corpus_domain_cap",
    oracle=f"""
    SELECT source, doc_id, n_chars, rank FROM (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS rank
        FROM documents) x
    WHERE rank <= {_DOMCAP_K}
    """,
    doc=f"Per-domain contribution cap: keep the top {_DOMCAP_K} documents "
        "per source by quality key (n_chars desc, doc_id tiebreak) — the "
        "CCNet/RefinedWeb guard against crawl-heavy hosts dominating the "
        "corpus. Reuses operators/topk.top_k_per_group (reference W1, "
        "frontend/skills_interface.py top-k semantics) so the plan is the "
        "proven rank-filter window: one shuffle on source, rank computed "
        "and filtered before any downstream join. At 100 TB the skew "
        "hazard is a mega-domain's partition; the mitigation documented "
        "in operators/skew.py (pre-aggregate per (domain, salt) keeping "
        "k, then re-rank the k*salt survivors) composes with this exact "
        "call because top-k-per-group is decomposable.",
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return top_k_per_group(
        docs, ["source"], "n_chars", _DOMCAP_K, tiebreak_cols=["doc_id"]
    ).select("source", "doc_id", "n_chars", "rank")


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------
#
# DSIR (Xie et al. 2023): data selection by importance resampling —
# score every raw document with a hashed-n-gram log-likelihood ratio
# between a target distribution (here: the English slice) and the raw
# corpus, then keep high-scoring docs. The standard cheap proxy for
# "looks like the target domain" at corpus scale.

_DSIR_BUCKETS = 1024


@register(
    "corpus_dsir_importance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    bt AS (
        SELECT doc_id, lang,
               ('0x' || substring(md5(tok), 1, 15))::BIGINT % {_DSIR_BUCKETS} AS bucket
        FROM toks
    ),
    bstats AS (
        SELECT bucket,
               count(*) AS c_r,
               count(*) FILTER (WHERE lang = 'en') AS c_t
        FROM bt GROUP BY bucket
    ),
    dim AS (
        SELECT bucket,
               CAST(round(ln(
                   CAST((c_t + 1) * (sum(c_r) OVER () + {_DSIR_BUCKETS}) AS DOUBLE)
                   / CAST((c_r + 1) * (sum(c_t) OVER () + {_DSIR_BUCKETS}) AS DOUBLE)
               ) * 1000000) AS BIGINT) AS term_micro
        FROM bstats
    )
    SELECT bt.doc_id,
           count(*) AS n_toks,
           CAST(sum(term_micro) AS BIGINT) AS score_micro,
           (sum(term_micro) > 0) AS selected
    FROM bt JOIN dim ON dim.bucket = bt.bucket
    GROUP BY bt.doc_id
    """,
    doc="DSIR data selection (Xie et al. 2023, hashed-unigram variant): "
        "per-document importance score = sum over tokens of the add-one-"
        "smoothed log-likelihood ratio between the target distribution "
        "(the English slice) and the raw corpus, hashed into "
        f"{_DSIR_BUCKETS} md5 buckets. Plan: ONE tokenize pass "
        "(checkpointed — it feeds the bucket histogram and the scoring "
        "join), a bucket histogram with map-side combine, a "
        f"{_DSIR_BUCKETS}-row ratio dim (broadcast by AQE), and a final "
        "per-doc sum — at 100 TB the corpus is read once and every "
        "exchange after it is O(buckets) or O(docs). Determinism: the ln "
        "is evaluated once per BUCKET on a ratio of exact bigints and "
        "rounded to integer micro-units before the per-doc sum, so "
        "scores are exact integer arithmetic on both engines (the "
        "accepted ln-then-round precedent, cf. text_bm25_search).",
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    bt = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
            % _DSIR_BUCKETS
        ).alias("bucket"),
    ).localCheckpoint()  # feeds the histogram AND the scoring join
    bstats = bt.groupBy("bucket").agg(
        F.count("*").alias("c_r"),
        F.count_if(F.col("lang") == "en").alias("c_t"),
    )
    w_all = Window.partitionBy()
    dim = bstats.select(
        "bucket",
        F.round(
            F.log(
                (
                    (F.col("c_t") + 1)
                    * (F.sum("c_r").over(w_all) + F.lit(_DSIR_BUCKETS))
                ).cast("double")
                / (
                    (F.col("c_r") + 1)
                    * (F.sum("c_t").over(w_all) + F.lit(_DSIR_BUCKETS))
                ).cast("double")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("term_micro"),
    )
    return (
        bt.join(dim, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum("term_micro").alias("score_micro"),
        )
        .select(
            "doc_id",
            "n_toks",
            "score_micro",
            (F.col("score_micro") > 0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget mixture allocation
# ---------------------------------------------------------------------------
#
# Token-budget mixture allocation: given per-language target weights
# and a global token budget, derive per-language sampling rates
# (capped at 1) and realize them with the repo's deterministic
# md5-draw — the planning step that turns "50% English" into an
# executable per-row filter.

# Target mixture in per-mille (integer so every rate below is exact).
_MIX_WEIGHTS_PM = {"en": 500, "zh": 150, "fr": 150, "de": 100, "es": 100}
_MIX_BUDGET_SHARE_PCT = 50  # global budget = 50% of corpus tokens
_MIX_SALT = "mixbudget-v1"

_MIX_WEIGHTS_SQL = ", ".join(
    f"('{lang}', {pm})" for lang, pm in _MIX_WEIGHTS_PM.items()
)


@register(
    "corpus_mix_budget",
    oracle=f"""
    WITH w(lang, weight_pm) AS (VALUES {_MIX_WEIGHTS_SQL}),
    dt AS (
        SELECT doc_id, lang,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS ntok
        FROM documents
    ),
    avail AS (
        SELECT lang, CAST(sum(ntok) AS BIGINT) AS avail_tokens,
               CAST(count(*) AS BIGINT) AS avail_docs
        FROM dt GROUP BY lang
    ),
    rates AS (
        SELECT a.lang, a.avail_tokens, a.avail_docs, w.weight_pm,
               -- CAST: DuckDB widens sum() to HUGEINT, which pandas
               -- renders as float64 and trips dtype-strict value hashing
               CAST(least(1000000,
                     (sum(a.avail_tokens) OVER () * {_MIX_BUDGET_SHARE_PCT}
                      * w.weight_pm) // (100 * a.avail_tokens)) AS BIGINT) AS rate_micro
        FROM avail a JOIN w ON w.lang = a.lang
    ),
    sampled AS (
        SELECT dt.lang, dt.ntok
        FROM dt JOIN rates r ON r.lang = dt.lang
        WHERE ('0x' || substring(md5('{_MIX_SALT}:' || CAST(dt.doc_id AS VARCHAR)), 1, 4))::BIGINT
              * 1000000 < r.rate_micro * 65536
    )
    SELECT r.lang, r.avail_docs, r.avail_tokens, r.weight_pm, r.rate_micro,
           CAST(coalesce(count(s.lang), 0) AS BIGINT) AS sampled_docs,
           CAST(coalesce(sum(s.ntok), 0) AS BIGINT) AS sampled_tokens
    FROM rates r LEFT JOIN sampled s ON s.lang = r.lang
    GROUP BY r.lang, r.avail_docs, r.avail_tokens, r.weight_pm, r.rate_micro
    """,
    doc="Token-budget mixture allocation: given integer per-mille language "
        f"weights and a global budget of {_MIX_BUDGET_SHARE_PCT}% of corpus "
        "tokens, derive each language's sampling rate (min(1, budget_share "
        "/ available_tokens), computed in integer micro-units) and realize "
        "it with the repo's deterministic md5 draw — the draw-vs-rate "
        "compare is cross-multiplied 16-bit-draw x micro-rate integer "
        "arithmetic, so the sampled SET is bit-identical on any engine "
        "(operators/sampling.py's data-INdependent thresholds can be "
        "precomputed hex literals; a data-DEPENDENT rate needs this "
        "integer form). Plan: one tokenize-count pass over documents "
        "(checkpointed — feeds the per-language aggregate and the sampling "
        "join), a |langs|-row rate dim joined back broadcast, map-side "
        "filter. Per-language report row: available vs sampled docs/"
        "tokens. At 100 TB this is the planning stage run before "
        "corpus_temperature_sample-style realization; over-budget "
        "languages get rate 1e6 (keep all), the budget concentrates on "
        "the rest.",
)
def corpus_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    dt = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("ntok"),
    ).localCheckpoint()  # feeds the availability agg AND the sampling join
    weights = F.create_map(
        *[x for lang, pm in _MIX_WEIGHTS_PM.items() for x in (F.lit(lang), F.lit(pm))]
    )
    avail = dt.groupBy("lang").agg(
        F.sum("ntok").cast("bigint").alias("avail_tokens"),
        F.count("*").alias("avail_docs"),
    )
    w_all = Window.partitionBy()
    # `div` (not `/`): Spark's `/` on bigints is DOUBLE division, and a
    # float quotient truncated to bigint can disagree with the oracle's
    # exact integer floor-div (`//`) one ulp below an integer boundary.
    rates = (
        avail.select(
            "lang",
            "avail_tokens",
            "avail_docs",
            weights[F.col("lang")].alias("weight_pm"),
        )
        .withColumn("_total_tokens", F.sum("avail_tokens").over(w_all))
        .withColumn(
            "rate_micro",
            F.expr(
                f"least(CAST(1000000 AS BIGINT), (_total_tokens * "
                f"{_MIX_BUDGET_SHARE_PCT} * weight_pm) div "
                f"(100 * avail_tokens))"
            ),
        )
        .drop("_total_tokens")
    )
    draw16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_MIX_SALT + ":"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    sampled = (
        dt.join(rates.select("lang", "rate_micro"), "lang")
        .filter(draw16 * 1000000 < F.col("rate_micro") * 65536)
        .groupBy("lang")
        .agg(
            F.count("*").alias("sampled_docs"),
            F.sum("ntok").cast("bigint").alias("sampled_tokens"),
        )
    )
    return (
        rates.join(sampled, "lang", "left")
        .select(
            "lang",
            "avail_docs",
            "avail_tokens",
            "weight_pm",
            "rate_micro",
            F.coalesce("sampled_docs", F.lit(0)).cast("bigint").alias("sampled_docs"),
            F.coalesce("sampled_tokens", F.lit(0)).cast("bigint").alias("sampled_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity tertiles (head / middle / tail)
# ---------------------------------------------------------------------------

_CC_BUCKETS = 4096


@register(
    "corpus_cc_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               ('0x' || substring(md5(unnest(
                   string_split_regex(trim(lower(text)), '\\s+'))), 1, 15))::BIGINT
                   % {_CC_BUCKETS} AS bucket
        FROM documents
    ),
    lm AS (
        SELECT bucket, count(*) AS c
        FROM toks WHERE lang = 'en' GROUP BY bucket
    ),
    n_t AS (SELECT count(*) AS n FROM toks WHERE lang = 'en'),
    scored AS (
        SELECT t.doc_id, t.lang,
               count(*) AS n_toks,
               CAST(sum(-CAST(round(ln(
                   CAST(coalesce(lm.c, 0) + 1 AS DOUBLE)
                   / CAST(n_t.n + {_CC_BUCKETS} AS DOUBLE)) * 1000000) AS BIGINT))
                   AS BIGINT) AS ent_micro_sum
        FROM toks t LEFT JOIN lm ON lm.bucket = t.bucket CROSS JOIN n_t
        GROUP BY t.doc_id, t.lang
    ),
    pt AS (
        SELECT doc_id, lang, n_toks,
               (ent_micro_sum * 1000) // n_toks AS ent_millis_per_tok
        FROM scored
    ),
    binned AS (
        SELECT lang, ent_millis_per_tok,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY ent_millis_per_tok, doc_id) AS tertile
        FROM pt
    )
    SELECT lang, tertile,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(ent_millis_per_tok) AS min_ent,
           max(ent_millis_per_tok) AS max_ent
    FROM binned GROUP BY lang, tertile
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): score every "
        "document by per-token cross-entropy under a unigram LM trained on "
        "the target slice (the English docs, hashed into "
        f"{_CC_BUCKETS} add-one-smoothed md5 buckets — the distributed "
        "proxy for CCNet's KenLM), then split each language into "
        "head/middle/tail tertiles by ntile(3). Head = looks most like "
        "the target (lowest entropy): CCNet keeps head+middle for "
        "pretraining. Determinism: ln is taken once per BUCKET and "
        "rounded to integer micros (the accepted ln-then-round "
        "precedent), per-doc entropy is an exact bigint sum, and the "
        "per-token rate uses positive integer floor-division "
        "(micro*1000 div n) so tertile boundaries replay exactly; ntile "
        "ties are pinned by doc_id. Plan: one tokenize pass, a "
        f"{_CC_BUCKETS}-row LM dim (broadcast), per-doc sum, one ntile "
        "window per language partition. At 100 TB the LM dim is "
        "kilobytes of mergeable state computed once from the target "
        "corpus, and scoring is a map-side broadcast join — only the "
        "tertile window shuffles, on (lang) keys.",
)
def corpus_cc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
            % _CC_BUCKETS
        ).alias("bucket"),
    ).localCheckpoint()  # feeds the LM histogram AND the scoring join
    en = toks.filter(F.col("lang") == "en")
    lm = en.groupBy("bucket").agg(F.count("*").alias("c"))
    n_t = en.agg(F.count("*").alias("n"))
    term = (
        lm.crossJoin(F.broadcast(n_t))
        .select(
            "bucket",
            (
                -F.round(
                    F.log(
                        (F.col("c") + 1).cast("double")
                        / (F.col("n") + F.lit(_CC_BUCKETS)).cast("double")
                    )
                    * 1000000
                ).cast("bigint")
            ).alias("ent_micro"),
        )
    )
    # OOV buckets (no en occurrence): entropy term = -round(ln(1/(n+B))*1e6)
    oov = F.coalesce(
        F.col("ent_micro"),
        -F.round(
            F.log(F.lit(1.0) / (F.col("n") + F.lit(_CC_BUCKETS)).cast("double"))
            * 1000000
        ).cast("bigint"),
    )
    scored = (
        toks.join(F.broadcast(term), "bucket", "left")
        .crossJoin(F.broadcast(n_t))
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_toks"), F.sum(oov).alias("ent_micro_sum"))
    )
    pt = scored.select(
        "doc_id",
        "lang",
        F.expr("(ent_micro_sum * 1000) div n_toks").alias("ent_millis_per_tok"),
    )
    binned = pt.withColumn(
        "tertile",
        F.ntile(3).over(
            Window.partitionBy("lang").orderBy("ent_millis_per_tok", "doc_id")
        ),
    )
    return binned.groupBy("lang", "tertile").agg(
        F.count("*").alias("n_docs"),
        F.min("ent_millis_per_tok").alias("min_ent"),
        F.max("ent_millis_per_tok").alias("max_ent"),
    )


_T5_SPAN = 3        # mean span length (fixed here: deterministic plan)
_T5_START_PM = 50   # per-position start probability, per-mille (5%)
_T5_SALT = "t5span-v1"


@register(
    "corpus_span_corruption_plan",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len(string_split_regex(trim(lower(text)), '\\s+')) AS n
        FROM documents WHERE trim(text) <> ''
    ),
    p AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS pos FROM t),
    starts AS (
        SELECT doc_id, pos FROM p
        WHERE pos <= n - {_T5_SPAN} + 1
          AND ('0x' || substring(md5('{_T5_SALT}:' || CAST(doc_id AS VARCHAR)
                                      || ':' || CAST(pos AS VARCHAR)), 1, 4))::BIGINT
              * 1000 < {_T5_START_PM} * 65536
    ),
    {SQL_ISLANDS.format(L=_T5_SPAN)}
    SELECT t.doc_id, t.n AS n_tokens,
           coalesce(p2.n_spans, 0) AS n_spans,
           coalesce(p2.covered_tokens, 0) AS n_masked,
           (coalesce(p2.covered_tokens, 0) * 1000) // t.n AS mask_permille
    FROM t LEFT JOIN perdoc p2 ON p2.doc_id = t.doc_id
    """,
    doc="T5-style span-corruption plan (Raffel et al. 2020): deterministic "
        f"mask-span selection — each in-range position starts a "
        f"{_T5_SPAN}-token span with probability {_T5_START_PM}/1000, "
        "drawn by the repo's salted-md5 16-bit draw (cross-multiplied "
        "integer compare, so the masked SET is bit-identical on any "
        "engine and REPLAYABLE across epochs — the property a "
        "distributed data loader needs so every worker agrees on the "
        "mask without coordination). Overlapping spans merge via the "
        "shared gaps-and-islands helper (each merged island = one "
        "sentinel in the T5 encoding). Per doc: token count, sentinel "
        "count, masked tokens, integer per-mille mask rate (target "
        "~15% = 50/1000 starts x 3-token spans). Plan: pure map-side "
        "position explode + filter, one islands window per doc — no "
        "corpus-wide state at all; at 100 TB this composes with "
        "text_chunk_overlap upstream of the trainer.",
)
def corpus_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    sized = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n")
    ).localCheckpoint()  # feeds the draw stream AND the report join
    draw16 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(_T5_SALT), F.col("doc_id").cast("string"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    starts = (
        sized.withColumn("pos", F.explode(F.sequence(F.lit(1), F.col("n"))))
        .filter(
            (F.col("pos") <= F.col("n") - _T5_SPAN + 1)
            & (draw16 * 1000 < F.lit(_T5_START_PM * 65536))
        )
        .select("doc_id", "pos")
    )
    perdoc = merge_fixed_spans(starts, "doc_id", "pos", _T5_SPAN)
    return sized.join(perdoc, "doc_id", "left").select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias("n_masked"),
        F.expr("(coalesce(covered_tokens, 0) * 1000) div n").alias("mask_permille"),
    )


# ---------------------------------------------------------------------------
# Zipf-slope corpus QA + inverted index
# ---------------------------------------------------------------------------

_ZIPF_RANKS = 100


@register(
    "corpus_zipf_slope",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    freq AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
    ranked AS (
        SELECT lang, c,
               row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS r
        FROM freq
    ),
    pts AS (
        SELECT lang,
               CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
        FROM ranked WHERE r <= {_ZIPF_RANKS}
    ),
    s AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pts GROUP BY lang
    )
    SELECT lang, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope
    FROM s
    """,
    doc="Zipf-slope corpus QA: least-squares slope of ln(frequency) vs "
        f"ln(rank) over each language's top {_ZIPF_RANKS} token ranks — "
        "natural language sits near -1; a slope far off flags template/"
        "boilerplate-dominated or tokenizer-broken slices (a standard "
        "corpus-health check before tokenizer training). Determinism: "
        "ln is taken per (rank, count) POINT and rounded to integer "
        "micros, the regression moments are exact bigint sums, and the "
        "single closing division is one double op on two exact bigints "
        "rounded to 4 — the ln-then-round precedent end to end. Plan: "
        "token count aggregate (map-side combine), per-lang top-ranks "
        "window over the (small) distinct-token frame, 5-integer-moment "
        "aggregate; at 100 TB only the token count shuffles on data "
        "volume — the regression runs on langs x 100 rows.",
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("lang", "text")
    toks = docs.select(
        "lang", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    )
    freq = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    ranked = freq.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("tok"))
        ),
    ).filter(F.col("r") <= _ZIPF_RANKS)
    pts = ranked.select(
        "lang",
        F.round(F.log(F.col("r").cast("double")) * 1000000).cast("bigint").alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1000000).cast("bigint").alias("y"),
    )
    s = pts.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        "lang",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
            4,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Split drift: chi-square token divergence between corpus halves
# ---------------------------------------------------------------------------

_DRIFT_TOPK = 20


@register(
    "corpus_split_drift",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id % 2 AS half,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    cnt AS (
        SELECT tok,
               CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS a,
               CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS b
        FROM toks GROUP BY tok
    ),
    tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2 FROM cnt
    ),
    scored AS (
        SELECT tok, a, b,
               round(CAST(a * n2 - b * n1 AS DOUBLE)
                     * CAST(a * n2 - b * n1 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * CAST(a + b AS DOUBLE)), 4) AS chi2
        FROM cnt, tot
    )
    SELECT tok, a, b, chi2, rank FROM (
        SELECT tok, a, b, chi2,
               row_number() OVER (ORDER BY chi2 DESC, tok) AS rank
        FROM scored) x
    WHERE rank <= {_DRIFT_TOPK}
    """,
    doc="Train/validation split drift check: 2x2 chi-square statistic per "
        "token between the two doc_id-parity halves of the corpus, top "
        f"{_DRIFT_TOPK} most divergent tokens — the standard audit that a "
        "random split did not concentrate a template/domain on one side "
        "(a drifted token here means models validated on half 1 see a "
        "different distribution than they trained on). Determinism: the "
        "cross-multiplied difference a*N2 - b*N1 is EXACT bigint; the "
        "single chi-square division happens once per token on exact "
        "operands cast to double and rounds to 4 — identical on any "
        "engine. Plan: one token pass with map-side combine into the "
        "per-token 2x2 table, a 1-row totals frame broadcast back, "
        "TakeOrderedAndProject for the top-k; shuffle volume is "
        "O(distinct tokens), never O(corpus).",
)
def corpus_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
        F.count_if(F.col("half") == 0).alias("a"),
        F.count_if(F.col("half") == 1).alias("b"),
    )
    tot = cnt.agg(
        F.sum("a").cast("bigint").alias("n1"), F.sum("b").cast("bigint").alias("n2")
    )
    diff = (F.col("a") * F.col("n2") - F.col("b") * F.col("n1")).cast("double")
    scored = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        "a",
        "b",
        F.round(
            diff * diff
            / (
                F.col("n1").cast("double")
                * F.col("n2").cast("double")
                * (F.col("a") + F.col("b")).cast("double")
            ),
            4,
        ).alias("chi2"),
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("chi2"), F.asc("tok"))).cast("bigint"),
        )
        .filter(F.col("rank") <= _DRIFT_TOPK)
        .select("tok", "a", "b", "chi2", "rank")
    )


# ---------------------------------------------------------------------------
# URL blocklist
# ---------------------------------------------------------------------------
#
# URL blocklist (UT1 / RefinedWeb-style): domain-suffix matching via
# the reversed-suffix-chain explode — each host yields its ≤4 parent
# suffixes, one broadcast join against the rule table; exact-host and
# whole-subtree rules both hit without regex or per-rule scans.

# UT1-style rules: a bare domain blocks its whole subtree; a deeper
# host blocks exactly that subtree. Tuple of (rule,) literals so both
# engines consume the same list.
_BLOCK_RULES = ("src3.example.com", "de.src5.example.com", "zh.src7.example.com")


@register(
    "corpus_url_blocklist",
    oracle=f"""
    WITH hosts AS (
        SELECT doc_id, lang || '.' || source || '.example.com' AS host
        FROM documents
    ),
    rules AS (
        SELECT * FROM (VALUES {", ".join(f"('{r}')" for r in _BLOCK_RULES)}) r(rule)
    ),
    verdict AS (
        SELECT h.doc_id, h.host, min(r.rule) AS matched_rule
        FROM hosts h
        LEFT JOIN rules r
          ON h.host = r.rule OR h.host LIKE '%.' || r.rule
        GROUP BY h.doc_id, h.host
    )
    SELECT doc_id, host, (matched_rule IS NOT NULL) AS blocked, matched_rule
    FROM verdict
    """,
    doc="UT1/RefinedWeb-style URL blocklist filter with domain-suffix "
        "semantics: a rule blocks its exact host AND every subdomain "
        "(src3.example.com blocks de.src3.example.com; "
        "de.src5.example.com blocks only the German subtree of src5). "
        "Hosts derive from the corpus as lang.source.example.com (the "
        "scalar_url_ops construction; reference URL handling at "
        "glassdoor-scraper/src/common.py:10-13). Plan — the 100 TB "
        "shape: each host explodes map-side into its <=4 label-boundary "
        "SUFFIXES (a.b.c -> [a.b.c, b.c, c]), one equi-join against the "
        "broadcast rule table, min(rule) per doc for a deterministic "
        "verdict. Real blocklists are ~1M-row dimension tables: suffix "
        "explode turns 'host endswith any rule' into a broadcast HASH "
        "join probed once per suffix — no per-rule scan, no regex, no "
        "O(docs x rules) anything. The oracle replays the semantics "
        "with the naive rule-by-rule LIKE (correctness mirror, not the "
        "scale shape).",
)
def corpus_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("lang"), F.lit("."), F.col("source"), F.lit(".example.com"))
        .alias("host"),
    )
    # label-boundary suffix chain: host plus every parent domain
    parts = F.split(F.col("host"), r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(0), F.size(parts) - 1),
        lambda i: F.array_join(F.slice(parts, i + 1, F.size(parts)), "."),
    )
    exploded = docs.select("doc_id", "host", F.explode(suffixes).alias("suffix"))
    rules = spark.createDataFrame(
        [(r,) for r in _BLOCK_RULES], "rule string"
    )
    matched = (
        exploded.join(
            F.broadcast(rules), exploded["suffix"] == rules["rule"], "left"
        )
        .groupBy("doc_id", "host")
        .agg(F.min("rule").alias("matched_rule"))
    )
    return matched.select(
        "doc_id",
        "host",
        F.col("matched_rule").isNotNull().alias("blocked"),
        "matched_rule",
    )


# ---------------------------------------------------------------------------
# Curriculum schedule
# ---------------------------------------------------------------------------
#
# Curriculum schedule: order the corpus by a quality score and cut it
# into fixed token-budget phases via a running sum — the data-ordering
# step of curriculum learning (Bengio et al. 2009).

_CURRICULUM_BUDGET = 4_000  # tokens per phase


@register(
    "corpus_curriculum_schedule",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
               {SCORE_SQL} AS score_micro
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
        score_micro(),
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
# Preference pairs
# ---------------------------------------------------------------------------
#
# Preference-pair construction: the DPO/RLHF data-prep step — per
# group, pair the best-scoring document against the worst, keeping
# pairs whose score gap clears a margin.

_PAIR_MARGIN_MICRO = 1_000  # required score gap (micro-units)


@register(
    "corpus_preference_pairs",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, source, {SCORE_SQL} AS score_micro
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
        "doc_id", "lang", "source", score_micro()
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
# Negative sampling (bucket ring)
# ---------------------------------------------------------------------------
#
# Negative sampling for contrastive pairs — the bucket-ring device:
# every doc hashes to one of B buckets, each bucket elects a
# representative by md5 draw, and anchor i's k negatives are the
# representatives of buckets (b+1..b+k) mod B. No cross join, no
# per-anchor scan: one 16-row broadcast of representatives.

_NEG_BUCKETS = 16
_NEG_K = 3
_NEG_SALT = "negrep"


@register(
    "corpus_negative_samples",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id,
               strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                   AS bucket,
               md5('{_NEG_SALT}:' || CAST(doc_id AS VARCHAR)) AS draw
        FROM documents
    ),
    reps AS (
        SELECT bucket, doc_id AS rep_id FROM (
            SELECT bucket, doc_id,
                   row_number() OVER (PARTITION BY bucket
                                      ORDER BY draw, doc_id) AS rk
            FROM bucketed) x
        WHERE rk = 1
    ),
    fanout AS (
        SELECT b.doc_id AS anchor_id, i.i AS neg_i,
               CAST((b.bucket + i.i) % {_NEG_BUCKETS} AS BIGINT) AS nb
        FROM bucketed b
        CROSS JOIN (SELECT unnest(range(1, {_NEG_K} + 1)) AS i) i
    )
    SELECT f.anchor_id, CAST(f.neg_i AS BIGINT) AS neg_i,
           r.rep_id AS negative_id
    FROM fanout f JOIN reps r ON r.bucket = f.nb
    ORDER BY f.anchor_id, neg_i
    """,
    doc="Negative sampling for contrastive pairs (the bucket-ring "
        f"device): every doc hashes to one of {_NEG_BUCKETS} buckets "
        "(first md5 hex digit), each bucket elects a representative by "
        "a salted md5 draw (ties by doc_id), and anchor a's k negatives "
        "are the representatives of buckets (b_a + 1 .. b_a + k) mod B "
        "— guaranteed != anchor because the ring never lands on the "
        "anchor's own bucket for k < B. This is how contrastive / "
        "embedding training sets mine structured negatives at scale "
        "without a cross join: the representative table is B rows, "
        "broadcast; the fan-out is a map-side explode(sequence); there "
        "is exactly ONE aggregate (the election) whose state is B rows. "
        "The documented escalation for per-epoch variety is salting the "
        "draw with the epoch number — same plan, new representatives. "
        "All arithmetic is exact (md5 strings compare lexically, the "
        "election min is (draw, doc_id) lexicographic).",
)
def corpus_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucketed = table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
        ).cast("int").alias("bucket"),
        F.md5(
            F.concat(F.lit(_NEG_SALT), F.lit(":"), F.col("doc_id").cast("string"))
        ).alias("draw"),
    )
    reps = (
        bucketed.groupBy("bucket")
        .agg(F.min(F.struct("draw", "doc_id")).alias("winner"))
        .select("bucket", F.col("winner.doc_id").alias("rep_id"))
    )
    fanout = bucketed.select(
        F.col("doc_id").alias("anchor_id"),
        F.col("bucket"),
        F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("neg_i"),
    ).select(
        "anchor_id",
        F.col("neg_i").cast("bigint").alias("neg_i"),
        ((F.col("bucket") + F.col("neg_i")) % _NEG_BUCKETS).cast("bigint").alias("nb"),
    )
    return (
        fanout.join(F.broadcast(reps), fanout.nb == reps.bucket)
        .select("anchor_id", "neg_i", F.col("rep_id").alias("negative_id"))
        .orderBy("anchor_id", "neg_i")
    )


# ---------------------------------------------------------------------------
# Quality-filter ablation
# ---------------------------------------------------------------------------
#
# Quality-filter ablation: for each curation rule, how many documents
# fail it at all and how many fail ONLY it — the marginal-attribution
# report a filter author reads before tightening any threshold
# (a rule whose failures are all shared with other rules is free to
# remove; a rule with large exclusive failures is load-bearing).

_ABL_MIN_CHARS = 100
_ABL_ALPHA_MICRO = 810_000
_ABL_MWL_LO, _ABL_MWL_HI = 3, 10  # mean word length band (Gopher-style)

_ABL_RULES_SQL = f"""
        SELECT doc_id,
               (n_chars >= {_ABL_MIN_CHARS}) AS r_min_chars,
               (CAST(round(1000000.0 * length(regexp_replace(lower(text),
                    '[^a-z]', '', 'g')) / n_chars) AS BIGINT)
                    >= {_ABL_ALPHA_MICRO}) AS r_alpha,
               (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    BETWEEN {_ABL_MWL_LO}
                        * len(string_split_regex(trim(lower(text)), '\\s+'))
                    AND {_ABL_MWL_HI}
                        * len(string_split_regex(trim(lower(text)), '\\s+')))
                   AS r_word_len,
               (' ' || trim(lower(text)) || ' ' LIKE '% the %') AS r_stopword
        FROM documents
"""


@register(
    "corpus_quality_ablation_report",
    oracle=f"""
    WITH rules AS ({_ABL_RULES_SQL}),
    u AS (
        SELECT 'min_chars' AS rule, NOT r_min_chars AS fails,
               NOT r_min_chars AND r_alpha AND r_word_len AND r_stopword
                   AS fails_only
        FROM rules
        UNION ALL
        SELECT 'alpha', NOT r_alpha,
               NOT r_alpha AND r_min_chars AND r_word_len AND r_stopword
        FROM rules
        UNION ALL
        SELECT 'word_len', NOT r_word_len,
               NOT r_word_len AND r_min_chars AND r_alpha AND r_stopword
        FROM rules
        UNION ALL
        SELECT 'stopword', NOT r_stopword,
               NOT r_stopword AND r_min_chars AND r_alpha AND r_word_len
        FROM rules
    )
    SELECT rule,
           CAST(count(*) FILTER (WHERE fails) AS BIGINT) AS n_fail,
           CAST(count(*) FILTER (WHERE fails_only) AS BIGINT)
               AS n_fail_exclusive,
           CAST((SELECT count(*) FROM rules
                 WHERE r_min_chars AND r_alpha AND r_word_len AND r_stopword)
                AS BIGINT) AS n_pass_all
    FROM u GROUP BY rule ORDER BY rule
    """,
    doc="Quality-filter ablation: for each curation rule (min length, "
        "alpha ratio, mean-word-length band, stopword presence — the "
        "Gopher-style family), count documents that fail it at all and "
        "documents that fail ONLY it — the marginal-attribution report "
        "a filter author reads before tightening any threshold: a rule "
        "whose failures are all shared is redundant; one with large "
        "exclusive failures is load-bearing and deserves its own "
        "review. The 100 TB shape: every rule is an expression on the "
        "scan (zero joins), the per-rule unpivot is a map-side Expand "
        "(one row per rule per doc BEFORE partial aggregation collapses "
        "each task to 4 rule rows), and the report is rule-cardinality "
        "sized. One corpus scan total; all counts exact.",
)
def corpus_quality_ablation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    alpha_len = F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
    n_tok = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    rules = table(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= _ABL_MIN_CHARS).alias("r_min_chars"),
        (
            F.round(F.lit(1_000_000.0) * alpha_len / F.col("n_chars")).cast(
                "bigint"
            )
            >= _ABL_ALPHA_MICRO
        ).alias("r_alpha"),
        (
            (alpha_len >= _ABL_MWL_LO * n_tok) & (alpha_len <= _ABL_MWL_HI * n_tok)
        ).alias("r_word_len"),
        F.concat(F.lit(" "), F.trim(F.lower("text")), F.lit(" "))
        .like("% the %")
        .alias("r_stopword"),
    ).localCheckpoint()  # feeds the unpivot AND the pass-all scalar
    names = ["min_chars", "alpha", "word_len", "stopword"]
    cols = ["r_min_chars", "r_alpha", "r_word_len", "r_stopword"]
    stack_parts = []
    for name, col in zip(names, cols):
        others = [c for c in cols if c != col]
        fails_only = (
            (~F.col(col))
            & F.col(others[0])
            & F.col(others[1])
            & F.col(others[2])
        )
        stack_parts.append(
            F.struct(
                F.lit(name).alias("rule"),
                (~F.col(col)).alias("fails"),
                fails_only.alias("fails_only"),
            )
        )
    unpivoted = rules.select(
        F.explode(F.array(*stack_parts)).alias("s")
    ).select("s.rule", "s.fails", "s.fails_only")
    pass_all = rules.agg(
        F.sum(
            F.when(
                F.col("r_min_chars")
                & F.col("r_alpha")
                & F.col("r_word_len")
                & F.col("r_stopword"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pass_all")
    )
    return (
        unpivoted.groupBy("rule")
        .agg(
            F.sum(F.when(F.col("fails"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_fail"),
            F.sum(F.when(F.col("fails_only"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_fail_exclusive"),
        )
        .crossJoin(F.broadcast(pass_all))
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# PSI distribution drift
# ---------------------------------------------------------------------------
#
# PSI distribution drift (population stability index, the standard
# ML-monitoring drift metric): PSI = sum_i (p_i - q_i) ln(p_i / q_i)
# between the English and non-English token distributions. Each
# term is rounded to integer micro-units BEFORE the sum, so the
# cross-engine result is an exact bigint total (summing raw doubles
# would be order-dependent across engines); the ln is the accepted
# ``text_bm25_search`` precedent.


@register(
    "corpus_psi_drift",
    oracle="""
    WITH toks AS (
        SELECT (lang = 'en') AS is_en,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT tok,
               CAST(count(*) FILTER (WHERE is_en) AS BIGINT) AS ca,
               CAST(count(*) FILTER (WHERE NOT is_en) AS BIGINT) AS cb
        FROM toks GROUP BY tok
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb
        FROM counts
    ),
    terms AS (
        SELECT c.tok,
               CAST(round(1000000.0
                   * (CAST(c.ca AS DOUBLE) / t.ta
                      - CAST(c.cb AS DOUBLE) / t.tb)
                   * ln((CAST(c.ca AS DOUBLE) * t.tb)
                        / (CAST(c.cb AS DOUBLE) * t.ta))) AS BIGINT)
                   AS term_e6
        FROM counts c CROSS JOIN tot t
        WHERE c.ca > 0 AND c.cb > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(term_e6) AS BIGINT) AS psi_e6,
           (CAST(sum(term_e6) AS BIGINT) >= 0) AS psi_nonnegative
    FROM terms
    """,
    doc="PSI distribution drift (population stability index — the "
        "standard ML-monitoring drift metric, with its conventional "
        "bands 0.1/0.25): PSI = sum over bins of (p_i - q_i) * "
        "ln(p_i / q_i) between the English and non-English token "
        "distributions, bins = shared vocabulary (bins unique to one "
        "side are excluded here; production smooths them with a small "
        "epsilon — documented, not hidden). Float discipline: each "
        "bin's term is rounded to integer micro-units FIRST and the "
        "total is an exact bigint sum — summing raw doubles would be "
        "partition-order-dependent and engine-divergent; per-term "
        "rounding makes the metric associative and mergeable, the same "
        "device as the sketch aggregates. PSI is provably >= 0 "
        "term-wise ((p-q) and ln(p/q) always share sign), asserted "
        "in-plan. The 100 TB shape: one token-count shuffle with "
        "map-side combine onto the vocabulary-sized frame, a 1-row "
        "totals broadcast, and a vocabulary-sized fold — the corpus is "
        "scanned once; both distributions come from the SAME aggregate "
        "(FILTER counts), not two scans.",
)
def corpus_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").alias("is_en"),
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    counts = (
        toks.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("is_en"), 1).otherwise(0)).cast("bigint").alias("ca"),
            F.sum(F.when(~F.col("is_en"), 1).otherwise(0)).cast("bigint").alias("cb"),
        )
        .localCheckpoint()  # feeds the totals AND the term fold
    )
    tot = counts.agg(
        F.sum("ca").cast("bigint").alias("ta"),
        F.sum("cb").cast("bigint").alias("tb"),
    )
    terms = (
        counts.filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.lit(1_000_000.0)
                * (
                    F.col("ca").cast("double") / F.col("ta")
                    - F.col("cb").cast("double") / F.col("tb")
                )
                * F.log(
                    (F.col("ca").cast("double") * F.col("tb"))
                    / (F.col("cb").cast("double") * F.col("ta"))
                )
            )
            .cast("bigint")
            .alias("term_e6")
        )
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum("term_e6").cast("bigint").alias("psi_e6"),
        (F.sum("term_e6").cast("bigint") >= 0).alias("psi_nonnegative"),
    )


# Float discipline (the queries module docstring): cents, token counts, gram
# counts and rank picks are exact bigints; each reported share/permille is
# one rounded IEEE division on exact integers.

# ---------------------------------------------------------------------------
# Corpus length deciles
# ---------------------------------------------------------------------------
#
# Corpus length deciles: the same exact-ntile device over documents by
# token count — the length profile used to pick packing/chunking
# budgets, with deterministic tie handling (doc_id) so decile
# boundaries replay bit-identically.


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
# Heaps'-law vocabulary growth
# ---------------------------------------------------------------------------
#
# Heaps'-law vocabulary growth: first-occurrence doc per distinct
# token (one aggregate), new-type counts per document, cumulative
# vocabulary at exact arrival-order deciles — the V(n) curve that
# sizes tokenizer vocabularies and detects template-heavy corpora.


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
    cum = cum_small(g, "decile", ["d_tokens", "d_types"])
    return cum.select(
        "decile",
        "n_docs",
        F.col("cum_d_tokens").alias("cum_tokens"),
        F.col("cum_d_types").alias("cum_vocab"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Neyman allocation
# ---------------------------------------------------------------------------
#
# Neyman (optimal) stratified-sampling allocation: per-language sample
# sizes proportional to N_h * sd_h for a fixed budget — the
# variance-minimizing design every survey/eval sampler should use
# instead of proportional allocation; power sums exact, sd and the
# allocation each a single rounded IEEE expression.

_NEYMAN_BUDGET = 1000


@register(
    "corpus_neyman_allocation",
    oracle=f"""
    WITH dt AS (
        SELECT lang,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS ntok
        FROM documents
    ),
    stats AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS s,
               CAST(sum(ntok * ntok) AS BIGINT) AS ss
        FROM dt GROUP BY 1
    ),
    sd AS (
        SELECT lang, n_docs,
               CASE WHEN n_docs > 1
                    THEN sqrt((n_docs * 1.0 * ss - s * 1.0 * s)
                              / (n_docs * 1.0 * (n_docs - 1)))
                    ELSE 0.0 END AS sd
        FROM stats
    ),
    tot AS (SELECT sum(n_docs * sd) AS w FROM sd)
    SELECT lang, n_docs,
           CAST(round(1000000.0 * sd) AS BIGINT) AS sd_micro,
           CAST(round({_NEYMAN_BUDGET} * n_docs * sd / t.w) AS BIGINT)
               AS alloc_docs
    FROM sd CROSS JOIN tot t
    ORDER BY lang
    """,
    doc=f"Neyman (optimal) stratified-sampling allocation: for a fixed "
        f"budget of {_NEYMAN_BUDGET} sampled documents, each language "
        "stratum gets n_h proportional to N_h * sd_h of its token-count "
        "distribution — the variance-minimizing design (vs proportional "
        "allocation, which over-samples homogeneous strata; the formal "
        "reason eval sets should over-represent high-variance "
        "languages). Power sums are exact bigints; sd_h and the "
        "allocation are each ONE deterministic IEEE expression rounded "
        "once (independent rounding per stratum — the report shows the "
        "raw allocations; a caller needing an exact-sum budget applies "
        "largest-remainder on these integers). Single-doc strata pin "
        "sd=0 (unplannable variance contributes nothing, the ABC-XYZ "
        "convention). The 100 TB shape: one partial-combining rollup "
        "to the language frame; everything after is |langs|-row "
        "arithmetic with a broadcast 1-row total.",
)
def corpus_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(F.trim(F.lower("text")), r"\s+"))
        .cast("bigint")
        .alias("ntok"),
    )
    stats = dt.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("s"),
        F.sum(F.col("ntok") * F.col("ntok")).cast("bigint").alias("ss"),
    )
    sd = stats.select(
        "lang",
        "n_docs",
        F.when(
            F.col("n_docs") > 1,
            F.sqrt(
                (F.col("n_docs") * 1.0 * F.col("ss") - F.col("s") * 1.0 * F.col("s"))
                / (F.col("n_docs") * 1.0 * (F.col("n_docs") - 1))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("sd"),
    )
    tot = sd.agg(F.sum(F.col("n_docs") * F.col("sd")).alias("w"))
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.round(F.lit(1_000_000.0) * F.col("sd")).cast("bigint").alias("sd_micro"),
            F.round(F.lit(_NEYMAN_BUDGET) * F.col("n_docs") * F.col("sd") / F.col("w"))
            .cast("bigint")
            .alias("alloc_docs"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/test split
# ---------------------------------------------------------------------------
#
# Leakage-safe train/test split: duplicate GROUPS (not documents) are
# the split unit, assigned by an md5 draw on the group key, so no
# duplicated text can sit in train while its copy sits in test — the
# contamination mechanism dedup papers warn about; the readout also
# counts how many groups a naive per-document split WOULD have torn
# across the boundary.

_SPLIT_TEST_HEX = "1999"  # ~10% of the 16-bit draw space


def _dup_planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies of doc_id % 5 == 0 under new ids — the
    duplicate-group structure a crawl corpus has and the synthetic table
    lacks (every sf0.01 text is unique)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    copies = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text", "n_chars"
    )
    return docs.unionByName(copies)


_SQL_DUP_DOCS = """
docs AS (
    SELECT doc_id, text, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 500000, text, n_chars FROM documents WHERE doc_id % 5 = 0
)"""


@register(
    "corpus_split_leakage_safe",
    oracle=f"""
    WITH {_SQL_DUP_DOCS},
    g AS (
        SELECT doc_id, n_chars, md5(text) AS grp,
               CASE WHEN substring(md5('split:' || md5(text)), 1, 4)
                         < '{_SPLIT_TEST_HEX}'
                    THEN 'test' ELSE 'train' END AS split,
               CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)),
                                   1, 4) < '{_SPLIT_TEST_HEX}'
                    THEN 'test' ELSE 'train' END AS naive_split
        FROM docs
    ),
    per_group AS (
        SELECT grp, count(DISTINCT split) AS n_splits,
               count(DISTINCT naive_split) AS n_naive_splits,
               count(*) AS members
        FROM g GROUP BY grp
    )
    SELECT CAST((SELECT count(*) FROM g) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST((SELECT count(*) FROM g WHERE split = 'train') AS BIGINT)
               AS n_train_docs,
           CAST((SELECT count(*) FROM g WHERE split = 'test') AS BIGINT)
               AS n_test_docs,
           CAST(round(1000000.0 * (SELECT count(*) FROM g WHERE split = 'test')
                      / (SELECT count(*) FROM g)) AS BIGINT)
               AS test_frac_micro,
           CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_torn_by_group_split,
           CAST(sum(CASE WHEN members > 1 AND n_naive_splits > 1
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_torn_by_doc_split
    FROM per_group
    """,
    doc="Leakage-safe train/test split: duplicate GROUPS (md5 of the "
        "exact text; compose with dedup_components for near-dup "
        "clusters) are the split unit, each assigned train/test by an "
        "engine-replayable md5 draw on the GROUP key — so a duplicated "
        "document can never sit in train while its copy sits in test, "
        "the contamination path dedup papers warn about. The readout "
        "proves it: groups torn by the group-keyed split = 0 BY "
        "CONSTRUCTION (asserted through the oracle), while the same "
        "draw keyed naively on doc_id tears a measurable number of "
        "multi-member groups across the boundary. Runs on a dup-planted "
        "corpus (every synthetic sf0.01 text is unique). The 100 TB "
        "shape: one grouped pass over the corpus (text-hash partial "
        "agg), per-group verdicts partial-combine, and the scalars fold "
        "in a final 1-row aggregate.",
)
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    draw_grp = F.substring(
        F.md5(F.concat(F.lit("split:"), F.md5(F.col("text")))), 1, 4
    )
    draw_doc = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 4
    )
    g = _dup_planted_docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.col("text")).alias("grp"),
        F.when(draw_grp < _SPLIT_TEST_HEX, "test").otherwise("train").alias("split"),
        F.when(draw_doc < _SPLIT_TEST_HEX, "test")
        .otherwise("train")
        .alias("naive_split"),
    ).localCheckpoint()  # feeds the doc scalars and the group verdicts
    per_group = g.groupBy("grp").agg(
        F.countDistinct("split").alias("n_splits"),
        F.countDistinct("naive_split").alias("n_naive_splits"),
        F.count("*").alias("members"),
    )
    doc_stats = g.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train_docs"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("n_test_docs"),
    )
    grp_stats = per_group.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_torn_by_group_split"),
        F.sum(
            F.when((F.col("members") > 1) & (F.col("n_naive_splits") > 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("groups_torn_by_doc_split"),
    )
    return doc_stats.crossJoin(F.broadcast(grp_stats)).select(
        "n_docs",
        "n_groups",
        "n_train_docs",
        "n_test_docs",
        F.round(F.lit(1_000_000.0) * F.col("n_test_docs") / F.col("n_docs"))
        .cast("bigint")
        .alias("test_frac_micro"),
        "groups_torn_by_group_split",
        "groups_torn_by_doc_split",
    )


# IPF (raking) corpus reweighting.
#
# Training mixtures are usually specified as MARGINS — "equal mass per
# language AND equal mass per source" — but documents arrive in (lang,
# source) cells whose joint distribution matches neither.  Iterative
# proportional fitting (raking) is the classic fix: alternately scale
# every cell weight so one margin matches its target, then the other;
# two sweeps already get both margins close, and the weights feed
# directly into weighted samplers (operators/sampling) as per-cell draw
# probabilities.
#
# The whole computation lives on the (lang x source) CELL frame —
# bounded by the catalog domains, never by documents — and every
# arithmetic step is integer micro-units with explicit `div`, so both
# engines replay it bit-identically (the events_markov_attribution
# discipline; float raking would be hostage to aggregation order).
#
# Float discipline: ZERO floats — weights, margins and residuals are
# micro-unit bigints with floor division.

_IPF_M = 1_000_000
_IPF_SWEEPS = 2


def _ipf_oracle() -> str:
    steps = []
    prev = "w0"
    for s in range(_IPF_SWEEPS):
        steps.append(f"""lm_{s} AS (
        SELECT lang, CAST(sum(n * {prev}) AS BIGINT) AS cur
        FROM cells JOIN {"w0_t" if s == 0 else f"w{s}_t"} USING (lang, source)
        GROUP BY lang
    ),
    wl_{s} AS (
        SELECT c.lang, c.source,
               CAST(({prev} * ((t.lang_target * {_IPF_M}) // l.cur))
                    // {_IPF_M} AS BIGINT) AS wl
        FROM cells c
        JOIN {"w0_t" if s == 0 else f"w{s}_t"} USING (lang, source)
        JOIN lm_{s} l ON l.lang = c.lang
        CROSS JOIN targets t
    ),
    sm_{s} AS (
        SELECT source, CAST(sum(c.n * w.wl) AS BIGINT) AS cur
        FROM cells c JOIN wl_{s} w USING (lang, source)
        GROUP BY source
    ),
    w{s + 1}_t AS (
        SELECT c.lang, c.source,
               CAST((w.wl * ((t.source_target * {_IPF_M}) // s.cur))
                    // {_IPF_M} AS BIGINT) AS w{s + 1}
        FROM cells c
        JOIN wl_{s} w USING (lang, source)
        JOIN sm_{s} s ON s.source = c.source
        CROSS JOIN targets t
    )""")
        prev = f"w{s + 1}"
    final = f"w{_IPF_SWEEPS}"
    return f"""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ),
    doms AS (
        SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(sum(n) AS BIGINT) AS total
        FROM cells
    ),
    targets AS (
        SELECT ((total * {_IPF_M}) // n_langs) AS lang_target,
               ((total * {_IPF_M}) // n_sources) AS source_target
        FROM doms
    ),
    w0_t AS (
        SELECT lang, source, CAST({_IPF_M} AS BIGINT) AS w0 FROM cells
    ),
    {",".join(steps)},
    resid AS (
        SELECT CAST(max(abs(lm.cur - t.lang_target)) AS BIGINT) AS worst
        FROM (SELECT lang, CAST(sum(c.n * w.{final}) AS BIGINT) AS cur
              FROM cells c JOIN w{_IPF_SWEEPS}_t w USING (lang, source)
              GROUP BY lang) lm
        CROSS JOIN targets t
    )
    SELECT c.lang, c.source, c.n,
           w.{final} AS weight_micro,
           CAST((c.n * w.{final}) AS BIGINT) AS mass_micro,
           (SELECT worst FROM resid) AS worst_lang_resid_micro
    FROM cells c JOIN w{_IPF_SWEEPS}_t w USING (lang, source)
    ORDER BY c.lang, c.source
    """


@register(
    "corpus_raking_weights",
    oracle=_ipf_oracle(),
    doc="IPF (raking) corpus reweighting: per-(lang, source) cell "
        "weights alternately scaled so total weighted mass matches an "
        "equal-share LANGUAGE margin, then an equal-share SOURCE margin, "
        f"for {_IPF_SWEEPS} sweeps — the survey-statistics device that "
        "turns margin-specified training mixtures (\"equal mass per "
        "language AND per source\") into per-cell sampling weights for "
        "operators/sampling's weighted draws. Runs entirely on the "
        "CELL frame (|langs| x |sources|, bounded by catalog domains): "
        "documents collapse once in a partial-combining groupBy and are "
        "never touched again. Every step is integer micro-unit "
        "arithmetic with explicit div (the events_markov_attribution "
        "determinism discipline), so the oracle replays it "
        "bit-identically; the readout carries the worst remaining "
        "language-margin residual so callers can decide whether two "
        "sweeps suffice.",
)
def corpus_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()  # the bounded frame every sweep reuses
    )
    doms = cells.agg(
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n").cast("bigint").alias("total"),
    )
    targets = doms.select(
        F.expr(f"(total * {_IPF_M}) div n_langs").alias("lang_target"),
        F.expr(f"(total * {_IPF_M}) div n_sources").alias("source_target"),
    )
    w = cells.crossJoin(F.broadcast(targets)).withColumn(
        "w", F.lit(_IPF_M).cast("bigint")
    )
    for _ in range(_IPF_SWEEPS):
        lm = w.groupBy("lang").agg(F.sum(F.expr("n * w")).alias("cur"))
        w = (
            w.join(F.broadcast(lm), "lang")
            .withColumn(
                "w",
                F.expr(f"(w * ((lang_target * {_IPF_M}) div cur)) div {_IPF_M}"),
            )
            .drop("cur")
        )
        sm = w.groupBy("source").agg(F.sum(F.expr("n * w")).alias("cur"))
        w = (
            w.join(F.broadcast(sm), "source")
            .withColumn(
                "w",
                F.expr(f"(w * ((source_target * {_IPF_M}) div cur)) div {_IPF_M}"),
            )
            .drop("cur")
        )
        w = w.localCheckpoint()  # keep each sweep a bounded-frame job
    lang_resid = (
        w.groupBy("lang")
        .agg(F.sum(F.expr("n * w")).alias("cur"))
        .crossJoin(F.broadcast(targets.select("lang_target")))
        .agg(
            F.max(F.abs(F.col("cur") - F.col("lang_target")))
            .cast("bigint")
            .alias("worst")
        )
    )
    return (
        w.crossJoin(F.broadcast(lang_resid))
        .select(
            "lang",
            "source",
            "n",
            F.col("w").cast("bigint").alias("weight_micro"),
            F.expr("n * w").cast("bigint").alias("mass_micro"),
            F.col("worst").alias("worst_lang_resid_micro"),
        )
        .orderBy("lang", "source")
    )


# the dedup-threshold ablation curve.
#
# Choosing the near-dup Jaccard threshold is a data-mixture decision
# every training-data pipeline makes (0.8 is folklore; the right value
# depends on the corpus), and the artifact that decision reads is this
# curve: per candidate threshold, how many pairs fire and how many
# documents the keep-smallest-id policy would drop.  The scale trick is
# that the PPJoin candidate generation runs ONCE at the LOOSEST
# threshold on the curve — its prefix/length/positional prunes are
# lossless for every tighter threshold, so the curve is five exact
# integer aggregations over one checkpointed pair frame, not five
# similarity joins.
#
# Determinism: the per-pair Jaccard is the same round(·, 6) double both
# engines compute bit-identically (the dedup_jaccard_pairs contract, green
# since r2); thresholds compare as the same double literals on both sides.

_CURVE_THRESHOLDS = (500, 600, 700, 800, 900)  # permille
_CURVE_FLOOR = min(_CURVE_THRESHOLDS) / 1000.0
# The shared artifact frame is generated at the loosest floor any trio
# member needs; this curve's own floor must never drop below it.
assert _CURVE_FLOOR >= DEDUP_PAIR_FLOOR


@register(
    "corpus_dedup_threshold_curve",
    oracle=f"""
    WITH {SQL_CORPUS}, {sql_shingles('corpus')},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jp AS (
        SELECT id_a, id_b,
               round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6)
              >= {_CURVE_FLOOR}
    ),
    th AS (SELECT unnest({list(_CURVE_THRESHOLDS)}) AS t)
    SELECT CAST(th.t AS BIGINT) AS threshold_permille,
           CAST(count(jp.id_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT jp.id_b) AS BIGINT) AS n_docs_dropped
    FROM th LEFT JOIN jp ON jp.j >= th.t / 1000.0
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Dedup-threshold ablation curve over the planted corpus: for "
        f"each Jaccard threshold in {_CURVE_THRESHOLDS} permille, the "
        "surviving near-dup pair count and the documents the "
        "keep-smallest-id policy drops (distinct larger ids) — the "
        "artifact the 0.8-or-0.7 mixture decision actually reads. "
        "PPJoin candidate generation (prefix + length + positional "
        "prunes, operators/dedup.jaccard_pairs) runs ONCE at the "
        "loosest threshold on the curve — lossless for every tighter "
        "one — and the whole curve is ONE conditional aggregate over "
        "that checkpointed pair frame (count_if + conditional distinct "
        "per threshold, stack()-melted to rows; no join anywhere). The "
        "100 TB shape: the pair frame is the banded-candidate output "
        "(orders of magnitude below the corpus) and adding a threshold "
        "costs two more aggregate columns, never another similarity "
        "join.",
)
def corpus_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One candidate generation serves all thresholds — and the session-
    # scoped artifact memo means the SAME checkpointed pair frame also
    # serves dedup_lsh_tuning_curve's truth set when both run in one
    # session (r9 verdict item 7: the trio no longer rebuilds shingles/
    # signatures/truth three times over).
    pairs = planted_dedup_artifact(spark, sf_dir, "pairs_floor").filter(
        F.col("jaccard") >= _CURVE_FLOOR
    )
    # no join at all: one conditional aggregate computes every
    # threshold's (pair count, distinct dropped docs) — a single pass
    # over the pair frame even when a threshold matches zero pairs (the
    # global aggregate always returns its one row) — then stack() melts
    # the 1-row result to the 5-row curve
    aggs = []
    for t in _CURVE_THRESHOLDS:
        hit = F.col("jaccard") >= t / 1000.0
        aggs.append(F.count_if(hit).cast("bigint").alias(f"np_{t}"))
        aggs.append(
            F.count_distinct(F.when(hit, F.col("id_b")))
            .cast("bigint")
            .alias(f"nd_{t}")
        )
    stack = ", ".join(
        f"CAST({t} AS BIGINT), np_{t}, nd_{t}" for t in _CURVE_THRESHOLDS
    )
    return (
        pairs.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(_CURVE_THRESHOLDS)}, {stack}) AS "
                "(threshold_permille, n_pairs, n_docs_dropped)"
            )
        )
        .orderBy("threshold_permille")
    )


# cross-corpus SEMANTIC decontamination.
#
# ``corpus_decontaminate`` (n-gram overlap) implements the GPT-3-style
# hygiene filter, but paraphrased benchmark leakage shares no 8-gram with
# the eval set — the contamination n-grams structurally miss.  The
# embedding-space twin probes EVAL-SET embeddings against the TRAINING
# corpus through a shared coarse quantizer (the SemDeDup cell device of
# ``operators/dedup.semantic_prune``, used cross-corpus): candidate pairs
# exist only within shared cells, an exact cosine rerank confirms, and
# every training doc with cosine >= threshold to any benchmark item is
# flagged for removal.
#
# Single-probe cell joins have a known failure: a near-duplicate sitting
# just across a quantizer boundary lands in a different cell and is never
# compared (observed here — 1/25 planted pairs at sf0.001, 7/100 at
# sf0.1 under top-1 assignment).  The standard IVF answer is MULTI-PROBE
# on the query side: each eval vector searches its ``nprobe`` nearest
# cells (3 of 8 here, full planted recall at every test SF).  The probe
# fan-out multiplies only the tiny eval side; the training corpus keeps
# exactly one cell per doc, so the partitioned-by-cell layout and
# per-cell join cost are unchanged.
#
# The planted contamination is a PARAPHRASE, not a copy: eval vectors are
# re-inserted into the training corpus under offset ids with a small
# deterministic directional perturbation (+-0.01 alternating per
# dimension -> cosine ~0.997 to the original, far from 1.0), which n-gram
# decontamination would never connect.  Organic cross-corpus cosines on
# this testdata top out at ~0.51, so threshold 0.9 flags exactly the
# planted set; the in-plan ``all_planted_caught`` verdict certifies the
# recall (and the oracle hash pins it cross-engine).
#
# Scale shape: assignment is a broadcast-centroid argmin (map-side), the
# candidate stage is an equi-join ON THE CELL KEY — O(|train_cell| x
# |eval_cell|) per cell, never O(train x eval) — and at 100 TB the
# training corpus is written partitioned by cell so the probe is
# partition-local with only the (tiny) eval side shuffled.

# Offset for planted (re-inserted) eval ids.  1e6 matches the text-side
# convention and gives ~500x headroom over sf0.1's max vec_id (1999) —
# the previous 1e4 had only ~5x, so a modestly larger embeddings table
# would silently spill verbatim ids into foreign id ranges (r9 ADVICE).
# The in-plan guard below still asserts the precondition outright.
_DECON_SEM_OFFSET = 1_000_000

_CAST_D = "[CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)]"
_SEM_L2_D = (
    "round(sqrt(list_sum(["
    "(x.emb[i] - c.cent[i]) * (x.emb[i] - c.cent[i]) "
    "FOR i IN range(1, 65)])), 6)"
)


@register(
    "corpus_decontaminate_semantic",
    oracle=f"""
    WITH eval AS (
        SELECT vec_id, {_CAST_D} AS emb
        FROM embeddings WHERE vec_id % 10 = 3
    ),
    train AS (
        SELECT vec_id, {_CAST_D} AS emb
        FROM embeddings WHERE vec_id % 10 <> 3
        UNION ALL
        SELECT vec_id + {_DECON_SEM_OFFSET} AS vec_id,
               [CAST(embedding[i] AS DOUBLE)
                + 0.01 * (CASE WHEN i % 2 = 1 THEN 1.0 ELSE -1.0 END)
                FOR i IN range(1, 65)] AS emb
        FROM embeddings WHERE vec_id % 20 = 3
    ),
    cents AS (
        SELECT vec_id AS cid, {_CAST_D} AS cent
        FROM embeddings
        WHERE vec_id % 10 <> 3 AND vec_id IN {_DECON_SEM_CENTROIDS}
    ),
    assign AS (
        SELECT side, vec_id, emb, cid AS cell FROM (
            SELECT x.side, x.vec_id, x.emb, c.cid,
                   row_number() OVER (PARTITION BY x.side, x.vec_id
                                      ORDER BY {_SEM_L2_D}, c.cid) AS r
            FROM (SELECT 't' AS side, vec_id, emb FROM train
                  UNION ALL
                  SELECT 'e' AS side, vec_id, emb FROM eval) x
            CROSS JOIN cents c) y
        WHERE (side = 't' AND r = 1)
           OR (side = 'e' AND r <= {_DECON_SEM_NPROBE})
    ),
    flags AS (
        SELECT t.vec_id,
               count(*) AS n_bench_hits,
               max(round(list_dot_product(t.emb, e.emb) /
                         (sqrt(list_dot_product(t.emb, t.emb)) *
                          sqrt(list_dot_product(e.emb, e.emb))), 6))
                   AS max_cos
        FROM (SELECT * FROM assign WHERE side = 't') t
        JOIN (SELECT * FROM assign WHERE side = 'e') e USING (cell)
        WHERE round(list_dot_product(t.emb, e.emb) /
                    (sqrt(list_dot_product(t.emb, t.emb)) *
                     sqrt(list_dot_product(e.emb, e.emb))), 6)
              >= {_DECON_SEM_THRESHOLD}
        GROUP BY t.vec_id
    ),
    np AS (
        SELECT count(*) AS n_planted FROM embeddings WHERE vec_id % 20 = 3
    )
    SELECT f.vec_id,
           f.vec_id >= {_DECON_SEM_OFFSET} AS is_planted,
           f.n_bench_hits,
           f.max_cos,
           (SELECT count(*) FROM flags
            WHERE vec_id >= {_DECON_SEM_OFFSET})
               = (SELECT n_planted FROM np) AS all_planted_caught
    FROM flags f
    ORDER BY f.vec_id
    """,
    doc="Cross-corpus SEMANTIC decontamination — the paraphrase-leakage "
        "filter n-gram overlap (corpus_decontaminate) structurally "
        "misses: eval-set embeddings are probed against the training "
        "corpus through the SemDeDup coarse quantizer "
        "(operators/dedup.semantic_prune's cell device, cross-corpus), "
        "candidates exist WITHIN SHARED CELLS ONLY — with IVF-style "
        "multi-probe (nprobe=3 of 8) on the eval side, closing the "
        "quantizer-boundary misses top-1 assignment provably has — and "
        "an exact cosine rerank (round 6) flags every training doc with "
        "cosine >= 0.9 to any benchmark item. Contamination is planted "
        "as perturbed "
        "eval vectors (+-0.01 alternating per dim, cosine ~0.997 — a "
        "paraphrase, not a copy) under offset ids; organic cosines top "
        "out ~0.51, so the flag set is exactly the planted set and the "
        "in-plan all_planted_caught verdict certifies recall. Scale "
        "shape: broadcast-centroid argmin assignment (map-side), then "
        "an equi-join on the cell key — never train x eval; at 100 TB "
        "the corpus is written partitioned by cell and the probe is "
        "partition-local with only the tiny eval side shuffled.",
)
def corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    # Spark transform indexes 0-based; DuckDB range() 1-based — i % 2 == 0
    # here IS i % 2 = 1 there, so the alternating signs line up.
    perturbed = F.transform(
        "embedding",
        lambda x, i: x.cast("double")
        + 0.01 * F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    eval_set = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id", as_double.alias("emb")
    )
    # In-plan precondition guard: is_planted below decodes planted-ness as
    # vec_id >= OFFSET, so every SOURCE id must sit below the offset — an
    # embeddings table violating that would silently misclassify instead
    # of failing.  assert_true folded into the consumed vec_id projection
    # (one long comparison per row) fails the job loudly.
    def _below_offset(c):
        chk = F.assert_true(
            c < F.lit(_DECON_SEM_OFFSET),
            F.lit(
                "corpus_decontaminate_semantic: source vec_id >= planted-id "
                f"offset {_DECON_SEM_OFFSET} — raise _DECON_SEM_OFFSET"
            ),
        )
        return F.when(chk.isNull(), c)

    train = (
        emb.filter(F.col("vec_id") % 10 != 3)
        .select(_below_offset(F.col("vec_id")).alias("vec_id"), as_double.alias("emb"))
        .unionByName(
            emb.filter(F.col("vec_id") % 20 == 3).select(
                (_below_offset(F.col("vec_id")) + _DECON_SEM_OFFSET).alias("vec_id"),
                perturbed.alias("emb"),
            )
        )
    )
    cents = (
        emb.filter(
            (F.col("vec_id") % 10 != 3)
            & F.col("vec_id").isin(*_DECON_SEM_CENTROIDS)
        )
        .select(F.col("vec_id").alias("_cid"), as_double.alias("_cent"))
    )
    flags = cell_probe_flags(train, eval_set, cents)
    n_planted = emb.filter(F.col("vec_id") % 20 == 3).agg(
        F.count("*").alias("_n_planted")
    )
    n_caught = flags.agg(
        F.sum(
            (F.col("vec_id") >= _DECON_SEM_OFFSET).cast("long")
        ).alias("_n_caught")
    )
    return (
        flags.crossJoin(F.broadcast(n_planted))
        .crossJoin(F.broadcast(n_caught))
        .select(
            "vec_id",
            (F.col("vec_id") >= _DECON_SEM_OFFSET).alias("is_planted"),
            "n_bench_hits",
            "max_cos",
            (F.col("_n_caught") == F.col("_n_planted")).alias(
                "all_planted_caught"
            ),
        )
        .orderBy("vec_id")
    )


# epoch-capped corpus upsampling — the half of the
# pretraining mixture recipe the sampling family was missing.
#
# ``corpus_mixture_sample`` realizes target proportions WITHOUT
# upsampling (rates <= 1, the largest exact mixture) and
# ``corpus_mix_budget`` allocates a budget below availability.  Real
# recipes also run the other direction: a small high-quality source is
# REPEATED — Wikipedia-style sources at 2-4 epochs in the
# GPT-3/Llama-style mixes — with a hard per-source epoch CAP so no
# source over-repeats regardless of its weight.  This query derives each
# language's epoch multiplier from (weight, budget, availability) in
# exact integer milli-epochs, caps it, realizes it with
# ``operators/sampling.epoch_upsample`` (floor full copies + one
# fractional copy by cross-multiplied 16-bit md5 draw), and reports the
# achieved mix with a per-language cap-hit flag.
#
# Determinism: weights are a pure function of the language string
# (md5-derived 0..255 + 50), the budget is exactly 2x corpus tokens, and
# every division is bigint ``div`` — the realized copy multiset is
# bit-identical across engines, which the oracle hash certifies.
#
# Scale shape: one narrow count aggregate builds the language dim, the dim
# broadcasts, and realization is MAP-SIDE array_repeat/posexplode bounded
# by the cap — no shuffle touches the replicated corpus until the report's
# final per-language aggregate.

_EPOCH_CAP_MILLI = 2_500     # no source repeats past 2.5 epochs
_EPOCH_BUDGET_MULT = 2       # global budget = 2x corpus tokens
_EPOCH_SALT = "ep1"


@register(
    "corpus_epoch_upsample",
    oracle=f"""
    WITH docs AS (
        SELECT lang, doc_id,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS ntok
        FROM documents
    ),
    avail AS (
        SELECT lang, CAST(sum(ntok) AS BIGINT) AS avail_tokens,
               CAST(count(*) AS BIGINT) AS n_docs,
               50 + ('0x' || substring(md5(lang), 1, 2))::BIGINT AS w
        FROM docs GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(avail_tokens) AS BIGINT) * {_EPOCH_BUDGET_MULT}
                   AS budget,
               CAST(sum(w) AS BIGINT) AS wsum
        FROM avail
    ),
    dim AS (
        SELECT lang, avail_tokens,
               (budget * w) // wsum AS target_tokens,
               least(((budget * w) // wsum) * 1000 // avail_tokens,
                     {_EPOCH_CAP_MILLI}) AS epochs_milli,
               ((budget * w) // wsum) * 1000 // avail_tokens
                   > {_EPOCH_CAP_MILLI} AS cap_hit
        FROM avail, tot
    ),
    realized AS (
        SELECT lang, ntok, unnest(range(0, n_copies)) AS c
        FROM (
            SELECT docs.lang, docs.ntok,
                   (epochs_milli // 1000)
                   + CASE WHEN ('0x' || substring(md5('{_EPOCH_SALT}:'
                                || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                              * 1000
                          < (epochs_milli % 1000) * 65536
                          THEN 1 ELSE 0 END AS n_copies
            FROM docs JOIN dim USING (lang)) d
    )
    SELECT dim.lang,
           dim.avail_tokens,
           dim.target_tokens,
           CAST(dim.epochs_milli AS BIGINT) AS epochs_milli,
           CAST(coalesce(r.n_docs_out, 0) AS BIGINT) AS n_docs_out,
           CAST(coalesce(r.tokens_out, 0) AS BIGINT) AS tokens_out,
           dim.cap_hit
    FROM dim
    LEFT JOIN (
        SELECT lang, count(*) AS n_docs_out, sum(ntok) AS tokens_out
        FROM realized GROUP BY lang) r USING (lang)
    ORDER BY dim.lang
    """,
    doc=f"Epoch-capped corpus upsampling — the REPEAT direction of the "
        "pretraining mixture recipe (corpus_mixture_sample only thins): "
        "md5-derived per-language weights and a budget of "
        f"{_EPOCH_BUDGET_MULT}x corpus tokens yield exact integer "
        "milli-epoch multipliers, hard-capped at "
        f"{_EPOCH_CAP_MILLI / 1000} epochs per source; realization is "
        "floor full copies + one fractional copy per cross-multiplied "
        "16-bit md5 draw (operators/sampling.epoch_upsample). Output: "
        "per-language available vs target tokens, the capped "
        "multiplier, realized docs/tokens, and the cap-hit flag — the "
        "achieved-mix report a data-recipe review reads. The realized "
        "copy multiset is bit-identical across engines (all-integer "
        "arithmetic), which the oracle hash certifies. 100 TB shape: "
        "narrow count agg -> broadcast language dim -> MAP-SIDE "
        "array_repeat/posexplode bounded by the cap; the replicated "
        "corpus is never shuffled until the final per-language "
        "aggregate.",
)
def corpus_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).cast("bigint").alias("ntok"),
    )
    w = 50 + F.conv(F.substring(F.md5("lang"), 1, 2), 16, 10).cast("bigint")
    avail = docs.groupBy("lang").agg(
        F.sum("ntok").cast("bigint").alias("avail_tokens"),
        F.count("*").cast("bigint").alias("n_docs"),
    ).withColumn("w", w)
    tot = avail.agg(
        (F.sum("avail_tokens").cast("bigint") * _EPOCH_BUDGET_MULT).alias("budget"),
        F.sum("w").cast("bigint").alias("wsum"),
    )
    uncapped = F.expr("(budget * w) div wsum * 1000 div avail_tokens")
    dim = (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "avail_tokens",
            F.expr("(budget * w) div wsum").alias("target_tokens"),
            F.least(uncapped, F.lit(_EPOCH_CAP_MILLI)).alias("epochs_milli"),
            (uncapped > _EPOCH_CAP_MILLI).alias("cap_hit"),
        )
        .localCheckpoint()  # feeds the broadcast realization AND the report
    )
    realized = epoch_upsample(
        docs.join(F.broadcast(dim.select("lang", "epochs_milli")), "lang"),
        "epochs_milli",
        key_col="doc_id",
        salt=_EPOCH_SALT,
    )
    report = realized.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs_out"),
        F.sum("ntok").cast("bigint").alias("tokens_out"),
    )
    return (
        dim.join(report, "lang", "left")
        .select(
            "lang",
            "avail_tokens",
            "target_tokens",
            F.col("epochs_milli").cast("bigint").alias("epochs_milli"),
            F.coalesce("n_docs_out", F.lit(0)).cast("bigint").alias("n_docs_out"),
            F.coalesce("tokens_out", F.lit(0)).cast("bigint").alias("tokens_out"),
            "cap_hit",
        )
        .orderBy("lang")
    )


# decontamination METHOD-COVERAGE report — the
# measured artifact that justifies running both decontamination methods.
#
# ``corpus_decontaminate`` (8-gram overlap) and
# ``corpus_decontaminate_semantic`` (embedding cell probe) catch
# different contamination classes.  This query plants BOTH classes into
# one training corpus and reports, per class, what each method catches:
#
# - ``verbatim_tail``: benchmark text re-inserted with a token tail (the
#   classic crawl-duplicate leak).  Shares the original's 8-grams AND its
#   embedding neighborhood — both methods must catch all of it.
# - ``word_reversed``: the same text with word order destroyed (a stand-in
#   for paraphrase — zero shared 8-grams, verified across all test SFs)
#   with a near-identical embedding.  N-gram decontamination must catch
#   NONE of it; the semantic probe must catch ALL of it.
# - ``organic``: the untouched training corpus.  The semantic probe must
#   stay silent (organic cosines top out ~0.51 vs the 0.9 threshold); the
#   n-gram side is REPORTED rather than asserted, because 8-gram
#   collisions between organic docs and the benchmark are genuine on this
#   low-entropy 31-word vocabulary (6/450 docs at sf0.01, stable for n up
#   to 12) — the measured specificity limit of n-gram decontamination on
#   repetitive text, itself worth surfacing.
#
# Each row carries an in-plan ``matches_expectation`` verdict; the oracle
# hash pins the whole contingency table cross-engine.  documents.doc_id
# and embeddings.vec_id share the same key space in the testdata, so each
# planted text has a planted embedding twin (offsets 3e5/4e5 text-side,
# 1e6/2e6 vector-side).
#
# Scale shape: the n-gram side is the corpus_decontaminate join
# (gram-keyed, benchmark side broadcastable); the semantic side is the
# cell_probe_flags device (broadcast-argmin assignment + cell-key
# equi-join + eval-side multi-probe); the report is three counts.

_COV_TAIL = " qq xq zq"
_COV_T_VERBATIM = 300_000   # text-side id offsets
_COV_T_REVERSED = 400_000
# Vector-side id offsets: match the text side's 1e6-scale convention —
# the previous 1e4/2e4 had only ~5x headroom over sf0.1's max vec_id, so
# an embeddings table with >=10_003 ids would spill verbatim ids into the
# word_reversed class range and collide with reversed ids (r9 ADVICE);
# the per-(side,vec_id) window in cell_probe_flags would then silently
# drop one train vector.  The in-plan guard asserts the precondition.
_COV_V_VERBATIM = 1_000_000
_COV_V_REVERSED = 2_000_000

_COV_CAST = "[CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)]"
_COV_L2 = (
    "round(sqrt(list_sum(["
    "(x.emb[i] - c.cent[i]) * (x.emb[i] - c.cent[i]) "
    "FOR i IN range(1, 65)])), 6)"
)


def _cov_perturb_sql(sign: str) -> str:
    return (
        f"[CAST(embedding[i] AS DOUBLE) {sign} 0.01 * "
        "(CASE WHEN i % 2 = 1 THEN 1.0 ELSE -1.0 END) "
        "FOR i IN range(1, 65)]"
    )


def _cov_grams_sql(src: str, idc: str) -> str:
    n = _DECON_N
    return f"""
    SELECT DISTINCT doc_id AS {idc}, gram FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= {n}
                           THEN [array_to_string(t[i:i+{n - 1}], ' ')
                                 FOR i IN range(1, len(t) - {n - 2})]
                           ELSE [] END) AS gram
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM {src}) x) u"""


@register(
    "corpus_decontaminate_coverage",
    oracle=f"""
    WITH bench_t AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3
    ),
    org_t AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3
    ),
    train_t AS (
        SELECT doc_id, text FROM org_t
        UNION ALL
        SELECT doc_id + {_COV_T_VERBATIM}, text || '{_COV_TAIL}'
        FROM bench_t
        UNION ALL
        SELECT doc_id + {_COV_T_REVERSED},
               array_to_string(
                   list_reverse(string_split_regex(trim(lower(text)),
                                                   '\\s+')), ' ')
        FROM bench_t
    ),
    cg AS ({_cov_grams_sql('train_t', 'doc_id')}),
    bg AS ({_cov_grams_sql('bench_t', 'bench_id')}),
    ngram_flag AS (
        SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram)
        WHERE doc_id <> bench_id
    ),
    ev AS (
        SELECT vec_id, {_COV_CAST} AS emb
        FROM embeddings WHERE vec_id % 10 = 3
    ),
    trainv AS (
        SELECT vec_id, {_COV_CAST} AS emb
        FROM embeddings WHERE vec_id % 10 <> 3
        UNION ALL
        SELECT vec_id + {_COV_V_VERBATIM}, {_cov_perturb_sql('+')}
        FROM embeddings WHERE vec_id % 10 = 3
        UNION ALL
        SELECT vec_id + {_COV_V_REVERSED}, {_cov_perturb_sql('-')}
        FROM embeddings WHERE vec_id % 10 = 3
    ),
    cents AS (
        SELECT vec_id AS cid, {_COV_CAST} AS cent
        FROM embeddings
        WHERE vec_id % 10 <> 3 AND vec_id IN {_DECON_SEM_CENTROIDS}
    ),
    assign AS (
        SELECT side, vec_id, emb, cid AS cell FROM (
            SELECT x.side, x.vec_id, x.emb, c.cid,
                   row_number() OVER (PARTITION BY x.side, x.vec_id
                                      ORDER BY {_COV_L2}, c.cid) AS r
            FROM (SELECT 't' AS side, vec_id, emb FROM trainv
                  UNION ALL
                  SELECT 'e' AS side, vec_id, emb FROM ev) x
            CROSS JOIN cents c) y
        WHERE (side = 't' AND r = 1) OR (side = 'e' AND r <= 3)
    ),
    sem_flag AS (
        SELECT DISTINCT t.vec_id
        FROM (SELECT * FROM assign WHERE side = 't') t
        JOIN (SELECT * FROM assign WHERE side = 'e') e USING (cell)
        WHERE round(list_dot_product(t.emb, e.emb) /
                    (sqrt(list_dot_product(t.emb, t.emb)) *
                     sqrt(list_dot_product(e.emb, e.emb))), 6) >= 0.9
    ),
    report AS (
        SELECT 'organic' AS planted_type,
               (SELECT count(*) FROM org_t) AS n_docs,
               (SELECT count(*) FROM ngram_flag
                WHERE doc_id < {_COV_T_VERBATIM}) AS ngram_caught,
               (SELECT count(*) FROM sem_flag
                WHERE vec_id < {_COV_V_VERBATIM}) AS semantic_caught
        UNION ALL
        SELECT 'verbatim_tail',
               (SELECT count(*) FROM bench_t),
               (SELECT count(*) FROM ngram_flag
                WHERE doc_id >= {_COV_T_VERBATIM}
                  AND doc_id < {_COV_T_REVERSED}),
               (SELECT count(*) FROM sem_flag
                WHERE vec_id >= {_COV_V_VERBATIM}
                  AND vec_id < {_COV_V_REVERSED})
        UNION ALL
        SELECT 'word_reversed',
               (SELECT count(*) FROM bench_t),
               (SELECT count(*) FROM ngram_flag
                WHERE doc_id >= {_COV_T_REVERSED}),
               (SELECT count(*) FROM sem_flag
                WHERE vec_id >= {_COV_V_REVERSED})
    )
    SELECT planted_type,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(ngram_caught AS BIGINT) AS ngram_caught,
           CAST(semantic_caught AS BIGINT) AS semantic_caught,
           CASE planted_type
               WHEN 'organic' THEN semantic_caught = 0
               WHEN 'verbatim_tail'
                   THEN ngram_caught = n_docs AND semantic_caught = n_docs
               ELSE ngram_caught = 0 AND semantic_caught = n_docs
           END AS matches_expectation
    FROM report
    ORDER BY planted_type
    """,
    doc="Decontamination method-coverage contingency table — the "
        "measured argument for running BOTH hygiene filters: verbatim "
        "contamination (benchmark text + token tail, planted with its "
        "perturbed embedding twin) must be caught by 8-gram overlap AND "
        "the semantic cell probe; word-reversed contamination (zero "
        "shared 8-grams — verified across SFs — near-identical "
        "embedding) must be caught ONLY by the semantic probe; the "
        "organic corpus must leave the semantic probe silent, while its "
        "n-gram hit count is REPORTED as the method's measured "
        "specificity limit on low-entropy text (8-gram collisions are "
        "genuine on a 31-word vocabulary: 6/450 organic docs at "
        "sf0.01). Per-class in-plan "
        "matches_expectation verdicts ride every row. Reuses the exact "
        "production devices (operators/decontam.ngram_overlap_flags, "
        "operators/decontam.cell_probe_flags with nprobe=3), so the table "
        "certifies the METHODS, not a re-implementation. 100 TB shape: "
        "gram-keyed join with broadcastable benchmark side + "
        "cell-partitioned probe; the report is three conditional "
        "counts.",
)
def corpus_decontaminate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one scan each: documents feeds bench/organic/planted text sides and
    # the class counts; embeddings feeds eval/train/centroid vector sides
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    bench_t = docs.filter(F.col("doc_id") % 10 == 3)
    org_t = docs.filter(F.col("doc_id") % 10 != 3)
    reversed_text = F.array_join(
        F.reverse(F.split(F.trim(F.lower("text")), r"\s+")), " "
    )
    train_t = org_t.unionByName(
        bench_t.select(
            (F.col("doc_id") + _COV_T_VERBATIM).alias("doc_id"),
            F.concat("text", F.lit(_COV_TAIL)).alias("text"),
        )
    ).unionByName(
        bench_t.select(
            (F.col("doc_id") + _COV_T_REVERSED).alias("doc_id"),
            reversed_text.alias("text"),
        )
    )
    ngram_flag = _DC.ngram_overlap_flags(train_t, bench_t, n=_DECON_N).select(
        "doc_id"
    )

    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    as_double = F.transform("embedding", lambda x: x.cast("double"))

    def perturb(sign: float):
        # Spark 0-based index: i % 2 == 0 here is DuckDB's i % 2 = 1
        return F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + sign * 0.01 * F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
        )

    ev = emb.filter(F.col("vec_id") % 10 == 3)

    # In-plan precondition guard: v_class below decodes the planted class
    # from id RANGES ([1e6, 2e6) verbatim, [2e6, ..) reversed), so every
    # SOURCE id must sit below the first offset — a larger embeddings
    # table would otherwise spill one class into the next and silently
    # drop a train vector in cell_probe_flags' per-(side,vec_id) window
    # (r9 ADVICE).  assert_true folded into the consumed vec_id
    # projection (one long comparison per row) fails the job loudly.
    def _below_offset(c):
        chk = F.assert_true(
            c < F.lit(_COV_V_VERBATIM),
            F.lit(
                "corpus_decontaminate_coverage: source vec_id >= planted-id "
                f"offset {_COV_V_VERBATIM} — raise _COV_V_* offsets"
            ),
        )
        return F.when(chk.isNull(), c)

    trainv = (
        emb.filter(F.col("vec_id") % 10 != 3)
        .select(_below_offset(F.col("vec_id")).alias("vec_id"), as_double.alias("emb"))
        .unionByName(
            ev.select(
                (_below_offset(F.col("vec_id")) + _COV_V_VERBATIM).alias("vec_id"),
                perturb(1.0).alias("emb"),
            )
        )
        .unionByName(
            ev.select(
                (_below_offset(F.col("vec_id")) + _COV_V_REVERSED).alias("vec_id"),
                perturb(-1.0).alias("emb"),
            )
        )
    )
    cents = emb.filter(
        (F.col("vec_id") % 10 != 3)
        & F.col("vec_id").isin(*_DECON_SEM_CENTROIDS)
    ).select(F.col("vec_id").alias("_cid"), as_double.alias("_cent"))
    sem_flag = cell_probe_flags(
        trainv, ev.select("vec_id", as_double.alias("emb")), cents
    ).select("vec_id")

    t_class = (
        F.when(F.col("doc_id") >= _COV_T_REVERSED, "word_reversed")
        .when(F.col("doc_id") >= _COV_T_VERBATIM, "verbatim_tail")
        .otherwise("organic")
    )
    v_class = (
        F.when(F.col("vec_id") >= _COV_V_REVERSED, "word_reversed")
        .when(F.col("vec_id") >= _COV_V_VERBATIM, "verbatim_tail")
        .otherwise("organic")
    )
    classes = (
        org_t.agg(F.count("*").cast("bigint").alias("n_docs"))
        .select(F.lit("organic").alias("planted_type"), "n_docs")
        .unionByName(
            bench_t.agg(F.count("*").cast("bigint").alias("n_docs")).select(
                F.lit("verbatim_tail").alias("planted_type"), "n_docs"
            )
        )
        .unionByName(
            bench_t.agg(F.count("*").cast("bigint").alias("n_docs")).select(
                F.lit("word_reversed").alias("planted_type"), "n_docs"
            )
        )
    )
    ngc = ngram_flag.groupBy(t_class.alias("planted_type")).agg(
        F.count("*").cast("bigint").alias("ngram_caught")
    )
    smc = sem_flag.groupBy(v_class.alias("planted_type")).agg(
        F.count("*").cast("bigint").alias("semantic_caught")
    )
    expected = (
        F.when(
            F.col("planted_type") == "organic",
            F.col("semantic_caught") == 0,
        )
        .when(
            F.col("planted_type") == "verbatim_tail",
            (F.col("ngram_caught") == F.col("n_docs"))
            & (F.col("semantic_caught") == F.col("n_docs")),
        )
        .otherwise(
            (F.col("ngram_caught") == 0)
            & (F.col("semantic_caught") == F.col("n_docs"))
        )
    )
    return (
        classes.join(ngc, "planted_type", "left")
        .join(smc, "planted_type", "left")
        .select(
            "planted_type",
            "n_docs",
            F.coalesce("ngram_caught", F.lit(0)).cast("bigint").alias(
                "ngram_caught"
            ),
            F.coalesce("semantic_caught", F.lit(0)).cast("bigint").alias(
                "semantic_caught"
            ),
        )
        .withColumn("matches_expectation", expected)
        .orderBy("planted_type")
    )
