"""Round-5 LLM-pipeline widening: domain caps, BPE merge counting,
DSIR importance weighting, and token-budget mixture allocation.

Four more named recipes a 100 TB pretraining pipeline runs between raw
crawl and tokenizer, extending the sampling/curation surface
(operators/sampling.py, plans/llm_extras.py):

- Domain cap (CCNet / RefinedWeb-style): bound any single domain's
  contribution by keeping only its top-k documents by a quality key —
  the guard against one crawl-heavy host dominating the mixture.
- BPE pair counting: the aggregate at the heart of byte-pair-encoding
  tokenizer training — corpus-wide adjacent-symbol-pair frequencies
  (here: character pairs within whitespace words, the first merge
  step's exact input). Sennrich et al. 2016's algorithm iterates this
  count; the distributed step is this one aggregate.
- DSIR (Xie et al. 2023): data selection by importance resampling —
  score every raw document with a hashed-n-gram log-likelihood ratio
  between a target distribution (here: the English slice) and the raw
  corpus, then keep high-scoring docs. The standard cheap proxy for
  "looks like the target domain" at corpus scale.
- Token-budget mixture allocation: given per-language target weights
  and a global token budget, derive per-language sampling rates
  (capped at 1) and realize them with the repo's deterministic
  md5-draw — the planning step that turns "50% English" into an
  executable per-row filter.

Reference parity: the 1.4k-LoC reference pipeline has no
corpus-curation stage (it cleans ~2k scraped listings per run,
glassdoor-scraper/src/main.py); this module belongs to the extended
100 TB training-data surface the build brief makes first-class.

Cross-engine float discipline (see plans/queries.py header): every
data-dependent threshold here is integer arithmetic (per-mille weights,
micro-unit rates, cross-multiplied 16-bit md5 draws); the single
transcendental (DSIR's ln) is taken once per hash bucket on a ratio of
exact integers and immediately rounded to integer micro-units, so doc
scores are exact bigint sums on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.scale import fan_out
from ..operators.topk import top_k_per_group
from .registry import register

# ---------------------------------------------------------------------------
# Domain cap
# ---------------------------------------------------------------------------

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
# BPE pair counting
# ---------------------------------------------------------------------------

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
# DSIR importance weights
# ---------------------------------------------------------------------------

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
# Streaming near-dup ingest over persistent LSH state
# ---------------------------------------------------------------------------

from .queries import (  # noqa: E402
    _NDD_HASHES,
    _NDD_RPB,
    _SQL_BANDED_CAND,
    _SQL_CORPUS,
    _SQL_SIG,
    _scratch_dir,
    _sql_shingles,
    _stream_state_partitions,
)
from ..operators import dedup as _D  # noqa: E402


@register(
    "streaming_dedup_state_ingest",
    oracle=f"""
    WITH {_SQL_CORPUS}, {_sql_shingles('corpus')}, {_SQL_SIG}, {_SQL_BANDED_CAND}
    SELECT id_a, id_b FROM cand
    """,
    doc="Ingest-time near-dup detection over PERSISTENT LSH state — the "
        "production composition of dedup_state_roundtrip with Structured "
        "Streaming: the planted corpus (base + exact copy + near copy per "
        "doc, the _SQL_CORPUS convention) arrives as 3 hash-split files, "
        "a real AvailableNow file-source stream processes one file per "
        "micro-batch (maxFilesPerTrigger=1), and each foreachBatch (a) "
        "MinHash-bands ONLY its own batch, (b) self-joins those bands for "
        "within-batch pairs, (c) probes the parquet band index persisted "
        "by PRIOR batches (operators/dedup.lsh_join_state — corpus text "
        "is never re-read), (d) appends candidate pairs to a result sink "
        "normalized to (least, greatest), and (e) appends its own bands "
        "to the state index. Because every pair is found exactly once — "
        "within its batch, or when the later doc's batch probes state — "
        "the accumulated result equals the ONE-SHOT symmetric "
        "lsh_candidate_pairs the oracle replays, independent of batch "
        "arrival order. At 100 TB this is the daily-crawl dedup shape: "
        "state grows by one band row per (new doc, band), probe cost is "
        "O(batch), and the band-partitioned index prunes probe scans.",
)
def streaming_dedup_state_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = (
        docs.unionByName(
            docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
        .unionByName(
            docs.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" qq xq zq")).alias("text"),
            )
        )
    )
    root = _scratch_dir("stream_dedup_ingest")
    src = _os.path.join(root, "src")
    state = _os.path.join(root, "band_state")
    result = _os.path.join(root, "pairs")
    ckpt = _os.path.join(root, "ckpt")
    # hash-split into 3 arrival files so planted pairs land both within
    # and across micro-batches (base/copy ids differ by 1e5 -> different
    # md5 split keys; ~1/3 of pairs co-arrive).
    split = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(3),
    )
    staged = corpus.withColumn("_split", split).localCheckpoint()
    for k in range(3):
        staged.filter(F.col("_split") == k).drop("_split").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # fan_out BEFORE the minhash map: a 1-file micro-batch is one scan
        # task, so the per-shingle md5 + band build otherwise runs on one
        # core (~1.5 s/batch of the 8 s total, measured r13).  The r12
        # experiment that fanned out WITHOUT reclustering regressed 3x by
        # exploding the state-append file count (32 partitions x bands
        # files per batch); the explicit repartition("band") below keeps
        # the append at one file per band per batch — parallel compute,
        # minimal file count (guide §2.5 + §6).
        bands = _D.band_table(
            _D.minhash_signatures(fan_out(batch_df, "doc_id"), num_hashes=_NDD_HASHES),
            rows_per_band=_NDD_RPB,
        ).localCheckpoint()  # feeds self-join, state probe, and the state append
        a = bands.select(F.col("doc_id").alias("id_a"), "band", "band_sig")
        b = bands.select(F.col("doc_id").alias("id_b"), "band", "band_sig")
        pairs = (
            a.join(b, ["band", "band_sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        if _os.path.isdir(state):
            cross = _D.lsh_join_state(batch_df.sparkSession.read.parquet(state), bands)
            pairs = pairs.unionByName(
                cross.select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
            ).distinct()
        pairs.write.mode("append").parquet(result)
        bands.repartition("band").write.mode("append").partitionBy("band").parquet(
            state
        )

    stream = (
        spark.readStream.schema(staged.drop("_split").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(ingest)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(result).distinct()


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized ANN with exact rerank
# ---------------------------------------------------------------------------

_SQ8_NQ = 5        # query vectors: vec_id < 5
_SQ8_CAND = 20     # quantized candidates per query fed to the exact rerank
_SQ8_TOPK = 5


@register(
    "ann_sq8_rerank",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    dim AS (
        SELECT pos, min(v) AS lo, max(v) AS hi FROM e GROUP BY pos
    ),
    codes AS (
        SELECT e.vec_id, e.pos,
               CASE WHEN dim.hi = dim.lo THEN 0
                    ELSE CAST(floor((CAST(e.v AS DOUBLE) - CAST(dim.lo AS DOUBLE))
                              * 255.0 / (CAST(dim.hi AS DOUBLE) - CAST(dim.lo AS DOUBLE)))
                         AS BIGINT)
               END AS code
        FROM e JOIN dim ON dim.pos = e.pos
    ),
    qc AS (SELECT vec_id AS q_id, pos, code FROM codes WHERE vec_id < {_SQ8_NQ}),
    approx AS (
        SELECT qc.q_id, c.vec_id, sum((c.code - 128) * (qc.code - 128)) AS adot
        FROM codes c JOIN qc ON qc.pos = c.pos AND c.vec_id != qc.q_id
        GROUP BY qc.q_id, c.vec_id
    ),
    cand AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adot DESC, vec_id) AS r
            FROM approx) x
        WHERE r <= {_SQ8_CAND}
    ),
    exact AS (
        SELECT cand.q_id, cand.vec_id,
               round(list_dot_product(e2.embedding, q2.embedding) /
                     (sqrt(list_dot_product(e2.embedding, e2.embedding)) *
                      sqrt(list_dot_product(q2.embedding, q2.embedding))), 4) AS cos
        FROM cand
        JOIN embeddings e2 ON e2.vec_id = cand.vec_id
        JOIN embeddings q2 ON q2.vec_id = cand.q_id
    ),
    rer AS (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM exact
    ),
    brute AS (
        SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, e3.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(e3.embedding, q.embedding) /
                                (sqrt(list_dot_product(e3.embedding, e3.embedding)) *
                                 sqrt(list_dot_product(q.embedding, q.embedding))) DESC,
                                e3.vec_id) AS r
            FROM embeddings e3 CROSS JOIN embeddings q
            WHERE q.vec_id < {_SQ8_NQ} AND e3.vec_id != q.vec_id) x
        WHERE r <= {_SQ8_TOPK}
    )
    SELECT rer.q_id, rer.vec_id, rer.cos, rer.rank,
           (brute.vec_id IS NOT NULL) AS in_exact_topk
    FROM rer LEFT JOIN brute
      ON brute.q_id = rer.q_id AND brute.vec_id = rer.vec_id
    WHERE rer.rank <= {_SQ8_TOPK}
    """,
    doc="Scalar-quantized (SQ8, faiss-style) ANN with exact rerank: each "
        "dimension is linearly quantized to an 8-bit code against the "
        "corpus per-dimension min/max, candidate generation scores "
        "INTEGER dot products of CENTERED codes ((c-128), cancelling the "
        "affine shift so the integer score tracks the true inner product "
        "of these unit-norm embeddings == cosine; uncentered codes rank "
        "by Sum(v_d)+const and recall collapses — measured 4% vs 100%). "
        "Exact bigint sums are bit-identical on any engine; the top "
        f"{_SQ8_CAND} per query are reranked by "
        f"exact cosine, and the final top {_SQ8_TOPK} carry an in-plan "
        "recall flag against the brute-force exact top-k. The one float "
        "step (floor of the affine code map) is double-precision IEEE on "
        "both engines. 100 TB shape: the codes table is 4-16x smaller "
        "than the float corpus and the integer dot is SIMD-friendly; "
        "candidate generation reads ONLY codes (one narrow shuffle per "
        "query batch), the float vectors are touched for "
        f"{_SQ8_CAND} rows per query in the rerank — the standard "
        "quantize-then-rerank recall/cost trade, here measured by the "
        "recall flag itself.",
)
def ann_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # (vec_id, pos, v) exploded once; feeds dim stats AND code assembly
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "v")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "v").localCheckpoint()
    dim = e.groupBy("pos").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    codes = (
        e.join(F.broadcast(dim), "pos")
        .select(
            "vec_id",
            "pos",
            F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
            .otherwise(
                F.floor(
                    (F.col("v").cast("double") - F.col("lo").cast("double"))
                    * 255.0
                    / (F.col("hi").cast("double") - F.col("lo").cast("double"))
                ).cast("bigint")
            )
            .alias("code"),
        )
        .localCheckpoint()  # feeds the query-side slice and the corpus side
    )
    qc = codes.filter(F.col("vec_id") < _SQ8_NQ).select(
        F.col("vec_id").alias("q_id"), "pos", F.col("code").alias("qcode")
    )
    approx = (
        codes.join(F.broadcast(qc), ["pos"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum((F.col("code") - 128) * (F.col("qcode") - 128)).alias("adot"))
    )
    w_a = Window.partitionBy("q_id").orderBy(F.desc("adot"), F.asc("vec_id"))
    cand = (
        approx.withColumn("r", F.row_number().over(w_a))
        .filter(F.col("r") <= _SQ8_CAND)
        .select("q_id", "vec_id")
    )
    qv = (
        emb.filter(F.col("vec_id") < _SQ8_NQ)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()  # 5-row query frame, consumed by rerank AND brute verify
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = lambda a, b: dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))  # noqa: E731
    exact = (
        emb.join(F.broadcast(cand), "vec_id")  # cand is <= NQ*CAND rows: broadcast, never shuffle the corpus
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", F.round(cos(F.col("embedding"), F.col("qv")), 4).alias("cos"))
    )
    w_r = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    rer = (
        exact.withColumn("rank", F.row_number().over(w_r).cast("bigint"))
        .filter(F.col("rank") <= _SQ8_TOPK)
    )
    brute = (
        emb.join(F.broadcast(qv), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos(F.col("embedding"), F.col("qv")).alias("_c"))
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("_c"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("r") <= _SQ8_TOPK)
        .select("q_id", "vec_id", F.lit(True).alias("_hit"))
    )
    return (
        rer.join(F.broadcast(brute), ["q_id", "vec_id"], "left")
        .select(
            "q_id",
            "vec_id",
            "cos",
            "rank",
            F.coalesce("_hit", F.lit(False)).alias("in_exact_topk"),
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


# ---------------------------------------------------------------------------
# ExactSubstr-style maximal repeated spans + T5 span-corruption planning
# ---------------------------------------------------------------------------

_ESS_L = 8  # repeated-gram length (tokens)


def _merge_fixed_spans(starts: DataFrame, part_col: str, pos_col: str,
                       span_len: int) -> DataFrame:
    """Merge fixed-length spans anchored at sorted start positions into
    maximal islands per partition key: two spans of length L merge iff
    their starts differ by <= L (overlap or adjacency). Returns one row
    per key: n_spans, covered_tokens (union length). Pure window
    gaps-and-islands — the same machinery as events_sessionize, so the
    SQL twin replays it verbatim; one shuffle on the partition key."""
    w = Window.partitionBy(part_col).orderBy(pos_col)
    prev = F.lag(pos_col).over(w)
    brk = (prev.isNull() | (F.col(pos_col) - prev > span_len)).cast("int")
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df = starts.withColumn("_island", F.sum(brk).over(w2))
    island = df.groupBy(part_col, "_island").agg(
        (F.max(pos_col) - F.min(pos_col) + span_len).alias("_len")
    )
    return island.groupBy(part_col).agg(
        F.count("*").alias("n_spans"),
        F.sum("_len").cast("bigint").alias("covered_tokens"),
    )


_SQL_ISLANDS = """
marked AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                     OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {L}
                THEN 1 ELSE 0 END AS brk
    FROM starts),
isl AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM marked),
spans AS (
    SELECT doc_id, island, max(pos) - min(pos) + {L} AS span_len
    FROM isl GROUP BY doc_id, island),
perdoc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(span_len) AS BIGINT) AS covered_tokens
    FROM spans GROUP BY doc_id)
"""


@register(
    "dedup_exact_substring_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
    ),
    sized AS (SELECT doc_id, t, len(t) AS n FROM t WHERE len(t) >= {_ESS_L}),
    g AS (
        SELECT doc_id, n, unnest(range(1, n - {_ESS_L} + 2)) AS pos, t
        FROM sized
    ),
    h AS (
        SELECT doc_id, n, pos,
               md5(array_to_string(t[pos : pos + {_ESS_L} - 1], ' ')) AS gh
        FROM g
    ),
    dup AS (SELECT gh FROM h GROUP BY gh HAVING count(*) >= 2),
    starts AS (SELECT h.doc_id, h.pos FROM h JOIN dup ON dup.gh = h.gh),
    {_SQL_ISLANDS.format(L=_ESS_L)}
    SELECT p.doc_id, p.n_spans, p.covered_tokens,
           (p.covered_tokens * 1000) // s.n AS covered_permille
    FROM perdoc p JOIN sized s ON s.doc_id = p.doc_id
    """,
    doc=f"ExactSubstr dedup planning (Lee et al. 2022, 'Deduplicating "
        "Training Data Makes Language Models Better', token-level): every "
        f"{_ESS_L}-token gram occurring >= 2 times corpus-wide marks its "
        "start position; per document, overlapping/adjacent marked spans "
        "merge (gaps-and-islands window) into MAXIMAL repeated spans — "
        "the paper's suffix-array step re-expressed as a distributed "
        "gram-hash aggregate, trading the suffix array's O(total chars) "
        "state for a shuffle Spark already knows how to partition. "
        "Output per affected doc: span count, covered tokens, integer "
        "per-mille coverage (the 'fraction removable' the paper cuts). "
        "Plan: one gram explode (map-side), ONE count window over "
        "gram-hash (the measured-cheaper form vs groupBy+join, cf. "
        "corpus_chunk_dedup), one islands window per doc. At 100 TB the "
        "gram stream shuffles once on hash — linear, skew-free (md5 "
        "keys); the islands window shuffles only marked starts.",
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = table(spark, sf_dir, "documents")
    t = tokenize(F.col("text"))
    sized = docs.select("doc_id", t.alias("t"), F.size(t).alias("n")).filter(
        F.col("n") >= _ESS_L
    ).localCheckpoint()  # feeds the gram stream AND the final length join
    grams = sized.withColumn(
        "pos", F.explode(F.sequence(F.lit(1), F.col("n") - _ESS_L + 1))
    ).select(
        "doc_id",
        "pos",
        F.md5(F.array_join(F.slice("t", F.col("pos"), _ESS_L), " ")).alias("gh"),
    )
    w_h = Window.partitionBy("gh")
    starts = (
        grams.withColumn("_cnt", F.count("*").over(w_h))
        .filter(F.col("_cnt") >= 2)
        .select("doc_id", "pos")
    )
    perdoc = _merge_fixed_spans(starts, "doc_id", "pos", _ESS_L)
    return perdoc.join(sized.select("doc_id", "n"), "doc_id").select(
        "doc_id",
        "n_spans",
        "covered_tokens",
        F.expr("(covered_tokens * 1000) div n").alias("covered_permille"),
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
    {_SQL_ISLANDS.format(L=_T5_SPAN)}
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
    perdoc = _merge_fixed_spans(starts, "doc_id", "pos", _T5_SPAN)
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
# MinHash estimate vs exact Jaccard: the dedup-threshold QA report
# ---------------------------------------------------------------------------

from .queries import _NDD_BANDS  # noqa: E402


@register(
    "dedup_minhash_estimate_accuracy",
    oracle=f"""
    WITH {_SQL_CORPUS}, {_sql_shingles('corpus')}, {_SQL_SIG}, {_SQL_BANDED_CAND},
    m AS (
        SELECT c.id_a, c.id_b,
               CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_match
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
        GROUP BY c.id_a, c.id_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cinter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    j AS (
        SELECT m.id_a, m.id_b, m.n_match,
               round(coalesce(ci.inter, 0) * 1.0
                     / (sa.n_sh + sb.n_sh - coalesce(ci.inter, 0)), 6) AS jaccard
        FROM m
        LEFT JOIN cinter ci ON ci.id_a = m.id_a AND ci.id_b = m.id_b
        JOIN sizes sa ON sa.doc_id = m.id_a
        JOIN sizes sb ON sb.doc_id = m.id_b
    )
    SELECT id_a, id_b, n_match,
           (n_match * 1000) // {_NDD_HASHES} AS est_permille,
           jaccard,
           abs((n_match * 1000) // {_NDD_HASHES}
               - CAST(round(jaccard * 1000) AS BIGINT)) AS err_milli
    FROM j
    """,
    doc="MinHash estimator QA — the report that justifies the dedup "
        "suite's (bands, rows) choice: for every LSH candidate pair over "
        "the planted corpus, the signature-agreement estimate "
        f"(matching seeds / {_NDD_HASHES}, integer per-mille) is laid "
        "next to the EXACT shingle Jaccard (operators/dedup."
        "jaccard_verify) with the absolute error in milli-units. At "
        f"{_NDD_HASHES} hashes the estimator's standard error is "
        "~sqrt(J(1-J)/8) ~ 14 points at J=0.8 — this query MEASURES the "
        "realized error distribution so a threshold move (0.8 vs 0.7) "
        "can be priced from data, not the asymptotic formula. Plan: the "
        "signature frame is checkpointed ONCE and feeds candidate "
        "generation and both sides of the seed-match join; exact "
        "verification re-tokenizes only candidate docs (semi-join "
        "pruned). At 100 TB this runs over a sampled pair slice — the "
        "estimator error is corpus-independent, so the sample prices "
        "the whole corpus.",
)
def dedup_minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import _planted_dedup_artifact

    # Session-scoped shared artifacts (r9 verdict item 7): corpus,
    # signature and production-config candidate frames are the same
    # checkpointed builds the other two dedup QA queries use — built
    # once per session, identical values.
    corpus = _planted_dedup_artifact(
        spark, sf_dir, "corpus"
    )  # feeds the exact-verify re-tokenize
    sigs = _planted_dedup_artifact(spark, sf_dir, "sigs")
    cand = _planted_dedup_artifact(
        spark, sf_dir, "cand_prod"
    )  # checkpointed; feeds the seed-match join AND jaccard_verify
    m = (
        cand.join(
            sigs.select(F.col("doc_id").alias("id_a"), "seed",
                        F.col("minhash").alias("mh_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("id_b"), "seed",
                        F.col("minhash").alias("mh_b")),
            ["id_b", "seed"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count_if(F.col("mh_a") == F.col("mh_b")).alias("n_match"))
    )
    exact = _D.jaccard_verify(corpus, cand).select("id_a", "id_b", "jaccard")
    est = F.expr(f"(n_match * 1000) div {_NDD_HASHES}")
    return (
        m.join(exact, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "n_match",
            est.alias("est_permille"),
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
            F.abs(
                est - F.round(F.coalesce("jaccard", F.lit(0.0)) * 1000).cast("bigint")
            ).alias("err_milli"),
        )
    )
