"""Round-4 LLM-pipeline widening: BM25 retrieval, temperature-scaled
domain rebalancing, and SemDeDup-style semantic pruning.

These extend the training-data surface (SURVEY.md §2 extension families:
dedup / sampling / text analysis) with three named, widely-used recipes a
100 TB corpus pipeline runs that the registry did not yet cover:

- BM25 (Robertson/Sparck-Jones): the lexical retrieval baseline used for
  corpus search, contamination auditing and hard-negative mining. Pure
  aggregate/join plan — tf, df, doclen, avgdl all relational; nothing
  collected.
- Temperature sampling (the ``p_g ~ n_g^alpha`` multilingual rebalancing
  rule of mBERT/XLM-R/mT5): the data-dependent generalization of
  corpus_mixture_sample's fixed target shares.
- SemDeDup (Abbas et al. 2023): embedding-space near-dedup inside coarse
  quantizer cells — catches "different words, same meaning" duplicates
  that shingle dedup structurally cannot.

Reference parity: the reference pipeline has no retrieval/sampling stage
(it processes <2k listings per run; glassdoor-scraper/src/main.py); these
belong to the extended 100 TB surface, same as operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import literal_dim, table
from ..functions.text import tokenize
from ..operators.dedup import semantic_prune
from ..operators.sampling import temperature_sample
from .registry import register

# ---------------------------------------------------------------------------
# BM25 top-k retrieval
# ---------------------------------------------------------------------------

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
# Temperature-scaled domain rebalancing
# ---------------------------------------------------------------------------


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
# SemDeDup: semantic near-dedup within quantizer cells
# ---------------------------------------------------------------------------

_SEM_L2 = (
    "round(sqrt(list_sum(["
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) "
    "FOR i IN range(1, 65)])), 6)"
)


@register(
    "dedup_semantic_prune",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    corpus AS (
        SELECT vec_id, embedding FROM base
        UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM base
    ),
    cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM corpus
        WHERE vec_id IN (0, 7, 14, 21, 28, 35, 42, 49)
    ),
    ca AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SEM_L2}, c.cid) AS r
            FROM corpus e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    drops AS (
        SELECT DISTINCT b.vec_id
        FROM ca a JOIN ca b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.embedding, b.embedding) /
                    (sqrt(list_dot_product(a.embedding, a.embedding)) *
                     sqrt(list_dot_product(b.embedding, b.embedding))), 6) >= 0.95
    )
    SELECT cell, count(*) AS n_kept
    FROM ca WHERE vec_id NOT IN (SELECT vec_id FROM drops)
    GROUP BY cell ORDER BY cell
    """,
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540) over a corpus "
        "with planted exact copies (ids offset by 1e4): embeddings "
        "assigned to their nearest of 8 fixed-id centroids (L2 argmin, "
        "rounded, deterministic ties — the same training-free quantizer "
        "as ann_ivf_topk; embedding_kmeans_refine shows the k-means "
        "upgrade), then every vector with cosine >= 0.95 to a lower-id "
        "CELL-mate is dropped. Every planted copy shares its original's "
        "cell (identical vector -> identical assignment) and is removed; "
        "per-cell survivor counts are the output. The pair scan is "
        "O(sum cell^2), never O(n^2) — at 100 TB the corpus is written "
        "partitioned by cell and the scan is partition-local, with "
        "sqrt-n centroids bounding expected cell size.",
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    kept = semantic_prune(corpus, threshold=0.95)
    return kept.groupBy("cell").agg(F.count("*").alias("n_kept")).orderBy("cell")


# ---------------------------------------------------------------------------
# Linear quality classifier (fastText-style hashed bag-of-words)
# ---------------------------------------------------------------------------

_QC_BUCKETS = 64
_QC_BIAS = -0.35
# Deterministic "trained" weights: bucket b gets a fixed literal weight.
# A real model drops in by replacing this literal dim with its exported
# (bucket, weight) table — the plan is identical.
_QC_WEIGHTS = [(b, round(((b * 37 + 11) % 97) / 97.0 - 0.5, 4)) for b in range(_QC_BUCKETS)]


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH w(bucket, wgt) AS (VALUES {', '.join(f"({b}, CAST({v} AS DOUBLE))" for b, v in _QC_WEIGHTS)}),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 4)) AS INTEGER) % {_QC_BUCKETS}
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
               round(1.0 / (1.0 + exp(-(micros / 1000000.0 + {_QC_BIAS}))), 4) AS score
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
    wdim = literal_dim(spark, _QC_WEIGHTS, "bucket int, wgt double")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int")
        % _QC_BUCKETS
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
            1.0 / (1.0 + F.exp(-(F.col("micros") / 1000000.0 + F.lit(_QC_BIAS)))), 4
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

_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


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
               unnest(range(0, 1 + CAST(ceil(greatest(n - {_CHUNK_SIZE}, 0)
                                             / {_CHUNK_STRIDE}.0) AS BIGINT)))
                   AS chunk_idx,
               t
        FROM sized
    )
    SELECT doc_id, chunk_idx,
           len(t[chunk_idx * {_CHUNK_STRIDE} + 1 :
                 chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}]) AS n_tokens,
           substring(md5(array_to_string(
               t[chunk_idx * {_CHUNK_STRIDE} + 1 :
                 chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')), 1, 16)
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
        F.greatest(F.col("n") - _CHUNK_SIZE, F.lit(0)) / float(_CHUNK_STRIDE)
    ).cast("bigint")
    chunk = F.slice(
        F.col("t"), F.col("chunk_idx") * _CHUNK_STRIDE + 1, _CHUNK_SIZE
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
                   t[chunk_idx * {_CHUNK_STRIDE} + 1 :
                     chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')), 1, 16)
                   AS chunk_hash
        FROM (SELECT doc_id, n, t,
                     unnest(range(0, 1 + CAST(ceil(greatest(n - {_CHUNK_SIZE}, 0)
                                                   / {_CHUNK_STRIDE}.0) AS BIGINT)))
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
        F.greatest(F.col("n") - _CHUNK_SIZE, F.lit(0)) / float(_CHUNK_STRIDE)
    ).cast("bigint")
    chunk = F.slice(F.col("t"), F.col("chunk_idx") * _CHUNK_STRIDE + 1, _CHUNK_SIZE)
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
# Theta sketches: set operations on distinct-count state
# ---------------------------------------------------------------------------


@register(
    "agg_theta_sketch_setops",
    oracle="""
    WITH ud AS (
        SELECT event_type,
               user_id || \':\' || CAST(date_diff(\'day\', DATE \'1970-01-01\',
                                                CAST(ts AS DATE)) AS VARCHAR)
                   AS user_day
        FROM events WHERE event_type IN (\'view\', \'click\')
    ),
    v AS (SELECT DISTINCT user_day FROM ud WHERE event_type = \'view\'),
    c AS (SELECT DISTINCT user_day FROM ud WHERE event_type = \'click\')
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM v JOIN c USING (user_day)) AS n_both,
           (SELECT count(*) FROM v WHERE user_day NOT IN (SELECT user_day FROM c))
               AS n_view_only,
           true AS union_ok, true AS intersect_ok, true AS difference_ok
    """,
    doc="Theta sketches (Spark 4 theta_sketch_agg / theta_intersection / "
        "theta_difference / theta_union): DISTINCT-COUNT STATE THAT "
        "SUPPORTS SET ALGEBRA — the capability HLL lacks (HLL unions but "
        "cannot intersect). Sketches are duplicate-insensitive, so both "
        "per-event-type sketches AND the four exact verification counts "
        "come from a single groupBy(user_day)-then-scalar-agg pass (2 "
        "exchanges; CASE WHEN routes keys into their sketch, count_if "
        "over membership flags gives exact cardinalities — nothing "
        "reaches the driver). Intersection (\'user-days with BOTH a view "
        "and a click\'), difference and union estimates are verified "
        "IN-PLAN with a 5% tolerance. At the default lgK=12 "
        "the sketch is exact below 4096 retained keys, so at gate scale "
        "the verdicts pin exact agreement. At 100 TB the per-segment "
        "sketch table is the precomputed state: any cross-segment overlap "
        "question becomes algebra over kilobyte blobs, never a re-scan — "
        "agg_sketch_mergeable\'s precompute pattern extended to "
        "intersections.",
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    user_day = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("string"),
    )
    ud = ev.select("event_type", user_day.alias("user_day"))
    # Theta sketches are DUPLICATE-INSENSITIVE (KMV hashing retains each
    # distinct key once), so no pre-distinct is needed: one groupBy(key)
    # derives per-key membership flags, and one scalar aggregate computes
    # all four exact set cardinalities AND both sketches in the same pass
    # (CASE WHEN routes each key into its sketch; aggregates skip NULLs).
    # 2 exchanges total — the r4 two-distinct + join + anti-join form cost
    # 9 even with checkpoints. At 100 TB the flags frame is the
    # per-segment distinct-key staging table the sketch state is built
    # from anyway, and the verification aggregate is map-combinable.
    flags = ud.groupBy("user_day").agg(
        (F.count_if(F.col("event_type") == "view") > 0).alias("in_v"),
        (F.count_if(F.col("event_type") == "click") > 0).alias("in_c"),
    )
    est = flags.agg(
        F.count_if(F.col("in_v")).alias("n_view"),
        F.count_if(F.col("in_c")).alias("n_click"),
        F.count_if(F.col("in_v") & F.col("in_c")).alias("n_both"),
        F.count_if(F.col("in_v") & ~F.col("in_c")).alias("n_view_only"),
        F.expr("theta_sketch_agg(CASE WHEN in_v THEN user_day END)").alias("sk_v"),
        F.expr("theta_sketch_agg(CASE WHEN in_c THEN user_day END)").alias("sk_c"),
    ).select(
        "n_view",
        "n_click",
        "n_both",
        "n_view_only",
        F.expr("theta_sketch_estimate(theta_union(sk_v, sk_c))").alias("_eu"),
        F.expr("theta_sketch_estimate(theta_intersection(sk_v, sk_c))").alias("_ei"),
        F.expr("theta_sketch_estimate(theta_difference(sk_v, sk_c))").alias("_ed"),
    )
    def ok(e, x):
        return F.abs(e - x) <= 0.05 * F.greatest(x, F.lit(1))

    return est.select(
        "n_view",
        "n_click",
        "n_both",
        "n_view_only",
        ok(F.col("_eu"), F.col("n_view") + F.col("n_click") - F.col("n_both")).alias(
            "union_ok"
        ),
        ok(F.col("_ei"), F.col("n_both")).alias("intersect_ok"),
        ok(F.col("_ed"), F.col("n_view_only")).alias("difference_ok"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: approx_top_k with exact verification
# ---------------------------------------------------------------------------


@register(
    "agg_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''
    ),
    cnt AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok)
    SELECT tok, n, rank, true AS approx_agrees FROM (
        SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rank
        FROM cnt) x
    WHERE rank <= 10
    """,
    doc="Corpus heavy hitters (Spark 4 approx_top_k): the top-10 tokens "
        "by frequency from a BOUNDED-STATE sketch (default 10k tracked "
        "items — fixed memory regardless of vocabulary size, map-side "
        "combinable), verified IN-PLAN against the exact count aggregate: "
        "each exact top-10 row carries a verdict that the sketch reports "
        "the identical count for that token (guaranteed here because the "
        "vocabulary fits the tracked-item budget; at 100 TB vocabularies "
        "the sketch over-approximates only below the tracked tail and "
        "the verdict column is the monitoring hook). Ties break by token "
        "for a deterministic cross-engine top-10. The exact side is one "
        "hash aggregate; the sketch side adds no shuffle beyond its "
        "single partial/final pair.",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count("*").alias("n"))
    # top-10 via orderBy+limit (TakeOrderedAndProject — per-partition heaps,
    # 10-row driver merge), NOT a global row_number window over the whole
    # vocabulary; the rank window then runs over the 10 survivors only.
    w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    exact = (
        cnt.orderBy(F.col("n").desc(), F.col("tok"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )
    # ask the sketch for 50 items, not 10: its own tiebreak at the k-th
    # boundary is arbitrary, so a count-tied token can sit at sketch
    # position 11 while the deterministic exact side ranks it 10th —
    # over-fetching covers every tie group that straddles the cut.
    approx = toks.agg(F.expr("approx_top_k(tok, 50, 10000)").alias("tk")).select(
        F.explode("tk").alias("e")
    ).select(F.col("e.item").alias("tok"), F.col("e.count").alias("n_approx"))
    return (
        exact.join(approx, "tok", "left")
        .select(
            "tok",
            "n",
            "rank",
            F.coalesce(F.col("n_approx") == F.col("n"), F.lit(False)).alias(
                "approx_agrees"
            ),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Flagship composition: the round-4 operators as ONE pipeline
# ---------------------------------------------------------------------------


@register(
    "corpus_pretrain_pipeline",
    oracle=f"""
    WITH w(bucket, wgt) AS (VALUES {', '.join(f"({b}, CAST({v} AS DOUBLE))" for b, v in _QC_WEIGHTS)}),
    base AS (SELECT doc_id, lang, text FROM documents WHERE trim(text) <> ''),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM base
    ),
    feats AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 4)) AS INTEGER) % {_QC_BUCKETS}
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
        WHERE round(1.0 / (1.0 + exp(-(z.micros / 1000000.0 + {_QC_BIAS}))), 4) >= 0.5
    ),
    sized AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t,
                     len(string_split_regex(trim(lower(text)), '\\s+')) AS n
              FROM kept_docs),
    chunks AS (
        SELECT doc_id, lang, chunk_idx,
               substring(md5(array_to_string(
                   t[chunk_idx * {_CHUNK_STRIDE} + 1 :
                     chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')), 1, 16)
                   AS chunk_hash
        FROM (SELECT doc_id, lang, n, t,
                     unnest(range(0, 1 + CAST(ceil(greatest(n - {_CHUNK_SIZE}, 0)
                                                   / {_CHUNK_STRIDE}.0) AS BIGINT)))
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
    wdim = literal_dim(spark, _QC_WEIGHTS, "bucket int, wgt double")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int")
        % _QC_BUCKETS
    )
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
    score = F.round(
        1.0 / (1.0 + F.exp(-(F.col("micros") / 1000000.0 + F.lit(_QC_BIAS)))), 4
    )
    kept_docs = (
        docs.join(z, "doc_id").filter(score >= 0.5).select("doc_id", "lang", "text")
    ).localCheckpoint()
    t = tokenize(F.col("text"))
    sized = kept_docs.select("doc_id", "lang", t.alias("t"), F.size(t).alias("n"))
    n_chunks = 1 + F.ceil(
        F.greatest(F.col("n") - _CHUNK_SIZE, F.lit(0)) / float(_CHUNK_STRIDE)
    ).cast("bigint")
    chunk = F.slice(F.col("t"), F.col("chunk_idx") * _CHUNK_STRIDE + 1, _CHUNK_SIZE)
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
