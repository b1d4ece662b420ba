"""Near-duplicate detection: exact fingerprints, MinHash signatures and
banded LSH candidates, Jaccard / containment / edit-distance
verification, SimHash, embedding pairs, connected components and
cluster representatives, persisted LSH state, exact-substring spans,
and the threshold and (bands x rows) tuning curves.

The planted corpus (``common.SQL_CORPUS``: base + exact copy + near
copy per document) gives every dedup query a known answer, and the
session-scoped ``common.planted_dedup_artifact`` builds the shared
frames once per session.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

import os.path as _os_path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.scale import fan_out
from ..functions.text import fingerprint, tokenize
from ..operators import dedup as _D
from ..operators.dedup import semantic_prune
from .common import (
    CC_CAP,
    MINHASH_P,
    NDD_BANDS,
    NDD_HASHES,
    NDD_RPB,
    SQL_BANDED_CAND,
    SQL_CORPUS,
    SQL_ISLANDS,
    SQL_SIG,
    merge_fixed_spans,
    planted_dedup_artifact,
    scratch_dir,
    sql_bucket,
    sql_shingles,
)
from .registry import register


@register(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp_check,
           min(doc_id) AS doc_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup by normalized-text md5 fingerprint — keep lowest id "
        "(U2/U3 dedup semantics, page.py:51, listing.py:188).",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp_check", fingerprint(F.col("text")))
        .groupBy("fp_check")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count"))
    )


@register(
    "dedup_minhash_signatures",
    oracle=f"WITH {sql_shingles('documents')}, {SQL_SIG} "
           "SELECT doc_id, seed, minhash FROM sig",
    doc="MinHash signatures (long form, one row per doc x hash function): "
        "one md5 base hash per shingle, multiply-add family per seed mod "
        "2^31-1. The oracle replays the family bit-identically — the design "
        "reason an md5-derived integer base was chosen "
        "(operators/dedup.py:13-15).",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return _D.minhash_signatures(docs, num_hashes=NDD_HASHES)


@register(
    "dedup_lsh_candidates",
    oracle=f"WITH {SQL_CORPUS}, {sql_shingles('corpus')}, {SQL_SIG}, {SQL_BANDED_CAND} "
           "SELECT id_a, id_b FROM cand",
    doc="LSH candidate pairs: banded self-equi-join on (band, band_sig) over "
        "the planted-duplicate corpus — the scale-safe O(collisions) "
        "alternative to the O(n^2) pair space. Draws the session memo's "
        "production-config candidate frame (whose signatures consume the "
        "r11 shared shingle build).",
)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return planted_dedup_artifact(spark, sf_dir, "cand_prod")


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH {SQL_CORPUS}, {sql_shingles('corpus')},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
    """,
    doc="Exact n-gram Jaccard pairs >= 0.5 over the planted corpus. "
        "Standalone form (PPJoin prefix/length/positional prunes); the "
        "composed pipeline (dedup_near_composed) restricts this to LSH "
        "candidates. Draws the session memo's 0.5-floor pair frame — "
        "which itself consumes the SHARED shingle build (one tokenize/"
        "n-gram pass feeding both minhash_signatures and jaccard_pairs, "
        "the r9-deferred lever shipped in r11) — so the trio and this "
        "query collapse to one PPJoin per session.",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 0.5 IS the memo floor: lossless prunes mean the floor frame is this
    # query's exact output (the corpus_dedup_threshold_curve precedent)
    return planted_dedup_artifact(spark, sf_dir, "pairs_floor")


_SIMHASH_BITS = 16
_SIMHASH_BIT_TERMS = ", ".join(
    f"sum(CASE WHEN (((strpos('0123456789abcdef', substring(hx, {15 - i // 4}, 1)) - 1) "
    f">> {i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(_SIMHASH_BITS)
)
_SIMHASH_SIG_SUM = " + ".join(
    f"CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(_SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents) u
    ),
    h AS (SELECT doc_id, substring(md5(tok), 1, 15) AS hx FROM toks),
    bits AS (SELECT doc_id, {_SIMHASH_BIT_TERMS} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_SIG_SUM} AS BIGINT) AS simhash FROM bits
    """,
    doc=f"SimHash fingerprints ({_SIMHASH_BITS}-bit variant): per-token md5 "
        "-> sign-sum per bit -> fingerprint. The oracle re-derives each bit "
        "from the md5 hex digits (bit i lives in hex char 15 - i/4), proving "
        "the conv(md5-prefix) bigint path bit-identical cross-engine.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return _D.simhash(docs, bits=_SIMHASH_BITS)


@register(
    "dedup_near_composed",
    oracle=f"""
    WITH {SQL_CORPUS}, {sql_shingles('corpus')}, {SQL_SIG}, {SQL_BANDED_CAND},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cinter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    drops AS (
        SELECT DISTINCT i.id_b FROM cinter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 6) >= 0.8
    )
    SELECT c.doc_id FROM corpus c
    WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.id_b = c.doc_id)
    """,
    doc="The composed near-dedup pipeline (operators/dedup.py near_dedup): "
        "MinHash -> LSH candidates -> exact Jaccard verify on candidates "
        "only -> drop docs with a verified dup of smaller id. The scale-safe "
        "path as ONE callable plan, not prose.",
)
def dedup_near_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Composed from the session memo's certified artifacts (r11): the
    # memo's cand_prod IS near_dedup's candidate set (NDD_BANDS x
    # NDD_RPB = the same 8-hash/4-band config), and the exact Jaccard of
    # a candidate pair IS its pairs_floor row (same _jaccard_from_arrays
    # device, same 6dp rounding; candidates below the 0.5 floor are below
    # 0.8 a fortiori), so verified-at-0.8 == pairs_floor >= 0.8 SEMI-
    # JOINED to the candidates, and the keep rule (drop id_b of any
    # verified pair) replays near_dedup exactly. One shingle build, one
    # signature pass, one PPJoin per session for the whole family.
    corpus = planted_dedup_artifact(spark, sf_dir, "corpus")
    cand = planted_dedup_artifact(spark, sf_dir, "cand_prod")
    drops = (
        planted_dedup_artifact(spark, sf_dir, "pairs_floor")
        .filter(F.col("jaccard") >= 0.8)
        .join(cand, ["id_a", "id_b"], "semi")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return corpus.join(drops, "doc_id", "left_anti").select("doc_id")


@register(
    "dedup_embedding_pairs",
    oracle="""
    WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    corpus AS (
        SELECT vec_id, embedding FROM base
        UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM base
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.embedding, b.embedding) /
                     (sqrt(list_dot_product(a.embedding, a.embedding)) *
                      sqrt(list_dot_product(b.embedding, b.embedding))), 6) AS cos
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.99
    """,
    doc="Embedding-cosine near-duplicate pairs over a corpus with planted "
        "exact copies (ids offset by 1e4). Brute-force verification form — "
        "the composed scale path runs this shape only on LSH bucket "
        "collisions (see ann_lsh_topk / near_dedup).",
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    return _D.embedding_near_dups(corpus, threshold=0.99)


@register(
    "dedup_embedding_composed",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    corpus AS (
        SELECT vec_id, embedding FROM base
        UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM base
    ),
    b AS (SELECT vec_id, embedding, {sql_bucket('embedding')} AS bucket FROM corpus),
    drops AS (
        SELECT DISTINCT y.vec_id
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE round(list_dot_product(x.embedding, y.embedding) /
                    (sqrt(list_dot_product(x.embedding, x.embedding)) *
                     sqrt(list_dot_product(y.embedding, y.embedding))), 6) >= 0.99
    )
    SELECT c.vec_id FROM corpus c
    WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = c.vec_id)
    """,
    doc="Composed embedding near-dedup (the vector twin of near_dedup): "
        "hyperplane-LSH bucket -> exact cosine verify on bucket collisions "
        "only -> keep-lowest-id. Planted exact copies (+1e4 id offset) "
        "always share their original's bucket, so all are dropped; the "
        "oracle replays buckets, pairs, and the NOT EXISTS keep-list in "
        "SQL. Candidates are bucket-local — nothing O(n^2).",
)
def dedup_embedding_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    return _D.embedding_near_dedup(corpus, threshold=0.99).select("vec_id")


# ---------------------------------------------------------------------------
# Deterministic sampling + hamming-band SimHash pairs + the composed corpus
# curation pipeline — the training-data-pipeline extension surface. Every
# draw/signature is md5-based so the oracle replays the exact row sets.
# ---------------------------------------------------------------------------


def _sql_simhash_from_features(feature_sql: str, bits: int) -> str:
    """CTE chain replaying operators/dedup.simhash over a feature table
    ``(doc_id, feat)``: per feature, bit i of conv(md5-prefix-15-hex, 16,
    10) lives in hex char 15 - i//4 at shift i%4; sign-sum per bit; positive
    bits assemble the signature. Yields table ``ssig(doc_id, simhash)``."""
    bit_terms = ", ".join(
        f"sum(CASE WHEN (((strpos('0123456789abcdef', substring(hx, {15 - i // 4}, 1)) - 1) "
        f">> {i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig_sum = " + ".join(f"CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(bits))
    return f"""
sh15 AS (SELECT doc_id, substring(md5(feat), 1, 15) AS hx FROM ({feature_sql}) feats),
sbits AS (SELECT doc_id, {bit_terms} FROM sh15 GROUP BY doc_id),
ssig AS (SELECT doc_id, CAST({sig_sum} AS BIGINT) AS simhash FROM sbits)"""


_SHP_BITS, _SHP_BANDS, _SHP_MAXHAM = 48, 4, 3
_SHP_BAND_BITS = _SHP_BITS // _SHP_BANDS
_SHP_MASK = (1 << _SHP_BAND_BITS) - 1
_SHP_CAP = 1000  # pair-DEMO corpus bound (like dedup_embedding_pairs' cap)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < {_SHP_CAP}),
    corpus AS (
        SELECT doc_id, text FROM base
        UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM base
        UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' qq xq zq' AS text FROM base
    ),
    {sql_shingles('corpus')},
    {_sql_simhash_from_features('SELECT doc_id, shingle AS feat FROM sh', _SHP_BITS)},
    sbanded AS (
        SELECT doc_id, simhash, CAST(b AS INT) AS band,
               (simhash >> (b * {_SHP_BAND_BITS})) & {_SHP_MASK} AS band_val
        FROM ssig CROSS JOIN (SELECT unnest(range(0, {_SHP_BANDS})) AS b) bands
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sbanded a
    JOIN sbanded b ON a.band = b.band AND a.band_val = b.band_val
                  AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SHP_MAXHAM}
    """,
    doc=f"SimHash near-dup pairs via hamming-band LSH over the planted "
        f"corpus: {_SHP_BITS}-bit SHINGLE-feature signatures split into "
        f"{_SHP_BANDS} bands (pigeonhole: hamming <= {_SHP_MAXHAM} < bands "
        "always collides on a band), candidates verified with one "
        "bit_count(xor). Shingle features because this corpus's ~31-word "
        "vocabulary makes token-set signatures of unrelated docs collapse "
        "together; n-gram features keep them ~uniform. O(collisions) end to "
        "end — the candidate/verify stage simhash fingerprints alone were "
        f"missing. Demo corpus bounded to base doc_id < {_SHP_CAP} (the "
        "dedup_embedding_pairs convention for pair-demo queries).",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < _SHP_CAP)
    exact = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq xq zq")).alias("text"),
    )
    # fan_out: the 3-arm union of a one-split scan gives <=3 partitions;
    # the per-shingle md5 bit-vote below is the dominant cost (r12)
    corpus = fan_out(base.unionByName(exact).unionByName(near), "doc_id")
    return _D.simhash_pairs(
        corpus,
        bits=_SHP_BITS,
        bands=_SHP_BANDS,
        max_hamming=_SHP_MAXHAM,
        shingle_n=3,
    )


def _sql_capped_corpus(cap: int) -> str:
    return f"""
base AS (SELECT doc_id, text FROM documents WHERE doc_id < {cap}),
corpus AS (
    SELECT doc_id, text FROM base
    UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM base
    UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' qq xq zq' AS text FROM base
)"""


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_sql_capped_corpus(CC_CAP)}, {sql_shingles('corpus')},
    {SQL_SIG}, {SQL_BANDED_CAND},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cinter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    edges AS (
        SELECT i.id_a, i.id_b FROM cinter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 6) >= 0.8
    ),
    bi AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL SELECT id_b AS src, id_a AS dst FROM edges
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT r.a, bi.dst FROM reach r JOIN bi ON bi.src = r.b
    )
    SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a
    """,
    doc="Transitive near-dup clusters over the planted corpus: the same "
        "MinHash->LSH->Jaccard-verified pairs as dedup_near_composed become "
        "an edge list, then iterative min-label propagation assigns every "
        "doc its component representative (planted triples base/exact/near "
        "collapse to one cluster id; singletons keep their own). The oracle "
        "replays the fixpoint as WITH RECURSIVE reachability + min — an "
        "iterative Spark algorithm checked exactly by recursive SQL. Demo "
        f"corpus bounded to base doc_id < {CC_CAP}.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # draws the session memo (r11): representatives runs the IDENTICAL
    # near_dedup_clusters build — one signature/candidate/verify/iterate
    # pass per session serves both
    return planted_dedup_artifact(spark, sf_dir, "capped_clusters")


@register(
    "dedup_edit_distance_verify",
    oracle=f"""
    WITH {_sql_capped_corpus(CC_CAP)}, {sql_shingles('corpus')},
    {SQL_SIG}, {SQL_BANDED_CAND}
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
    FROM cand c
    JOIN corpus a ON a.doc_id = c.id_a
    JOIN corpus b ON b.doc_id = c.id_b
    WHERE levenshtein(a.text, b.text) <= 12
    """,
    doc="Edit-distance verification of LSH candidate pairs: the "
        "character-level alternative to Jaccard verify (catches "
        "reorder-free edits Jaccard over-penalizes). levenshtein() is "
        "JVM-native in Spark and built into DuckDB, so the oracle replays "
        "it exactly; cost is O(candidates x len^2), never corpus-quadratic "
        "— planted exact copies score 0, near copies the 9-char suffix "
        f"length. Demo corpus bounded to base doc_id < {CC_CAP}.",
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # capped corpus from the session memo (r11) — three consumers here
    # (signatures + the id_a/id_b text probes) and the cluster pair's
    # builds all read the one checkpointed frame
    corpus = planted_dedup_artifact(spark, sf_dir, "capped_corpus")
    sigs = _D.minhash_signatures(corpus, num_hashes=NDD_HASHES)
    cands = _D.lsh_candidate_pairs(
        sigs, bands=NDD_BANDS, rows_per_band=NDD_RPB
    ).localCheckpoint()
    a = corpus.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    b = corpus.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    # bounded levenshtein: O(len * 12) per pair instead of O(len^2), and the
    # returned distance is exact whenever <= threshold (-1 otherwise), so
    # the kept rows are identical to the unbounded form the oracle replays.
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("edit_dist", F.levenshtein("_ta", "_tb", 12).cast("bigint"))
        .filter(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", "edit_dist")
    )


_INC_HIST_CAP = 250  # batch-vs-corpus demo: docs below this are "historical"


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < {_INC_HIST_CAP}),
    batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= {_INC_HIST_CAP}
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text FROM hist WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 20000 AS doc_id, text || ' zz inc tail' AS text
        FROM hist WHERE doc_id % 11 = 0
    ),
    corpus AS (SELECT * FROM hist UNION ALL SELECT * FROM batch),
    exact_hits AS (
        SELECT DISTINCT b.doc_id
        FROM batch b JOIN hist h
          ON md5(regexp_replace(trim(lower(b.text)), '\\s+', ' ', 'g')) =
             md5(regexp_replace(trim(lower(h.text)), '\\s+', ' ', 'g'))
    ),
    {sql_shingles('corpus')}, {SQL_SIG}, {SQL_BANDED_CAND},
    cross_cand AS (
        SELECT id_a, id_b FROM cand
        WHERE (id_a < {_INC_HIST_CAP}) <> (id_b < {_INC_HIST_CAP})
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cinter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cross_cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    near_hits AS (
        SELECT DISTINCT CASE WHEN i.id_a >= {_INC_HIST_CAP} THEN i.id_a ELSE i.id_b END AS doc_id
        FROM cinter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 6) >= 0.8
    )
    SELECT b.doc_id,
           (e.doc_id IS NOT NULL) AS is_exact_dup,
           (n.doc_id IS NOT NULL) AS is_near_dup
    FROM batch b
    LEFT JOIN exact_hits e ON e.doc_id = b.doc_id
    LEFT JOIN near_hits n ON n.doc_id = b.doc_id
    """,
    doc="Incremental batch dedup — the daily-ingest question: which NEW "
        "docs duplicate the historical corpus? Exact hits via normalized-"
        "md5 fingerprint join (functions/text.fingerprint); near hits via "
        "MinHash->LSH over corpus+batch restricted to CROSS pairs (one "
        "side historical, one side new — batch-internal dups are a "
        "separate pass), Jaccard-verified at 0.8. Planted: every 7th "
        "historical doc re-arrives verbatim, every 11th with a tail edit. "
        "At 100 TB the historical side's signatures are a precomputed "
        "table — only the batch re-shingles; the LSH band join prunes "
        "corpus-side work to colliding buckets.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # hist feeds four consumers (both plant branches, the exact-dup dim,
    # the union corpus) and batch three (exact probe, union corpus, final
    # output) — lazily that is 15 documents scans (measured); materialize
    # each once. At scale these ARE two distinct stored tables anyway.
    hist = docs.filter(F.col("doc_id") < _INC_HIST_CAP).localCheckpoint()
    batch = (
        docs.filter(F.col("doc_id") >= _INC_HIST_CAP)
        .unionByName(
            hist.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            hist.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz inc tail")).alias("text"),
            )
        )
        .localCheckpoint()
    )
    exact_hits = (
        batch.select("doc_id", fingerprint(F.col("text")).alias("_fp"))
        .join(
            hist.select(fingerprint(F.col("text")).alias("_fp")).distinct(), "_fp"
        )
        .select("doc_id")
        .distinct()
        .withColumn("_ex", F.lit(True))
    )
    union_c = hist.unionByName(batch)
    sigs = _D.minhash_signatures(union_c, num_hashes=NDD_HASHES)
    cands = _D.lsh_candidate_pairs(sigs, bands=NDD_BANDS, rows_per_band=NDD_RPB)
    cross = cands.filter(
        (F.col("id_a") < _INC_HIST_CAP) != (F.col("id_b") < _INC_HIST_CAP)
    )
    verified = _D.jaccard_verify(union_c, cross).filter(F.col("jaccard") >= 0.8)
    near_hits = (
        verified.select(
            F.when(F.col("id_a") >= _INC_HIST_CAP, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("_nr", F.lit(True))
    )
    return (
        batch.join(exact_hits, "doc_id", "left")
        .join(near_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_ex", F.lit(False)).alias("is_exact_dup"),
            F.coalesce("_nr", F.lit(False)).alias("is_near_dup"),
        )
    )


@register(
    "dedup_state_roundtrip",
    oracle=f"""
    WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < {_INC_HIST_CAP}),
    batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= {_INC_HIST_CAP}
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text FROM hist WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 20000 AS doc_id, text || ' zz inc tail' AS text
        FROM hist WHERE doc_id % 11 = 0
    ),
    corpus AS (SELECT * FROM hist UNION ALL SELECT * FROM batch),
    {sql_shingles('corpus')}, {SQL_SIG}, {SQL_BANDED_CAND},
    cross_cand AS (
        SELECT id_a, id_b FROM cand
        WHERE id_a < {_INC_HIST_CAP} AND id_b >= {_INC_HIST_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cinter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cross_cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 6) AS jaccard
    FROM cinter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 6) >= 0.8
    """,
    doc="Persistent dedup-state round trip — the 100 TB incremental "
        "pattern dedup_incremental_batch documents, now actually executed "
        "against stored state: RUN 1 computes the historical corpus's "
        "MinHash band index ONCE and writes it to parquet partitioned by "
        "band (operators/dedup.band_table); RUN 2 computes signatures for "
        "ONLY the new batch, probes the persisted index via an asymmetric "
        "band join (operators/dedup.lsh_join_state — no corpus re-shingle, "
        "no self-join), Jaccard-verifies the colliding pairs, and appends "
        "the batch's own index rows so run 3 sees hist+batch. The oracle "
        "computes the same cross pairs ONE-SHOT from raw text, so a green "
        "row proves the two-run composition over persisted state equals "
        "the single-pass result — signatures survive the parquet round "
        "trip losslessly. Planted re-arrivals (every 7th hist doc "
        "verbatim, every 11th with a tail edit) guarantee hits.",
)
def dedup_state_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < _INC_HIST_CAP).localCheckpoint()
    batch = (
        docs.filter(F.col("doc_id") >= _INC_HIST_CAP)
        .unionByName(
            hist.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            hist.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz inc tail")).alias("text"),
            )
        )
        .localCheckpoint()
    )
    state_path = _os_path.join(scratch_dir("dedup_state_roundtrip"), "band_state")

    # RUN 1 (corpus ingest): build and persist the band index. Partitioned
    # by band so a probe scans only matching band partitions; at 100 TB
    # this write happens once per corpus, not once per batch.
    _D.band_table(
        _D.minhash_signatures(hist, num_hashes=NDD_HASHES), rows_per_band=NDD_RPB
    ).write.mode("overwrite").partitionBy("band").parquet(state_path)

    # RUN 2 (batch arrival): fresh lineage — the ONLY link to run 1 is the
    # parquet state table. Only the batch is shingled/hashed here.
    state = spark.read.parquet(state_path)
    batch_bands = _D.band_table(
        _D.minhash_signatures(batch, num_hashes=NDD_HASHES), rows_per_band=NDD_RPB
    ).localCheckpoint()
    # Materialized so the probe result is pinned BEFORE the append below —
    # a lazy cand would re-list the state directory at execution time and
    # could see the batch's own rows.
    cand = _D.lsh_join_state(state, batch_bands).localCheckpoint()
    verified = _D.jaccard_verify(hist.unionByName(batch), cand).filter(
        F.col("jaccard") >= 0.8
    )
    # Append the batch's index rows: state now covers hist+batch, so the
    # next batch probes both without any recomputation.
    batch_bands.write.mode("append").partitionBy("band").parquet(state_path)
    return verified


@register(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_sql_capped_corpus(CC_CAP)}, {sql_shingles('corpus')},
    {SQL_SIG}, {SQL_BANDED_CAND},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cinter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    edges AS (
        SELECT i.id_a, i.id_b FROM cinter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 6) >= 0.8
    ),
    bi AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL SELECT id_b AS src, id_a AS dst FROM edges
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT r.a, bi.dst FROM reach r JOIN bi ON bi.src = r.b
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a)
    SELECT c.component_id,
           count(*) AS n_members,
           max_by(c.doc_id, length(co.text) * 1000000 + c.doc_id) AS rep_doc_id,
           CAST(max(length(co.text)) AS BIGINT) AS max_len
    FROM comp c JOIN corpus co ON co.doc_id = c.doc_id
    GROUP BY c.component_id
    """,
    doc="Quality-aware survivor selection over transitive dup clusters — "
        "the step after clustering in a real curation pipeline: instead of "
        "keep-min-id, each component keeps its LONGEST member (argmax by "
        "an integer-packed (length, doc_id) key: multiply/add only, so "
        "both engines break ties identically without relying on composite-"
        "key max_by semantics). One join + one hash aggregate on top of "
        "the connected-components fixpoint; the oracle extends the same "
        f"recursive-SQL reachability. Demo corpus bounded to base doc_id < {CC_CAP}.",
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both frames from the session memo (r11): the clusters build is
    # identical to dedup_components' — one pass per session serves both
    corpus = planted_dedup_artifact(spark, sf_dir, "capped_corpus")
    clusters = planted_dedup_artifact(spark, sf_dir, "capped_clusters")
    return (
        clusters.join(corpus, "doc_id")
        .groupBy("component_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max_by(
                "doc_id", F.length("text") * F.lit(1000000) + F.col("doc_id")
            ).alias("rep_doc_id"),
            F.max(F.length("text")).cast("bigint").alias("max_len"),
        )
    )


@register(
    "dedup_common_spans",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
        FROM documents WHERE trim(text) <> ''),
    grams AS (
        SELECT DISTINCT doc_id,
               md5(tk[i] || ' ' || tk[i + 1]) AS g
        FROM toks, unnest(range(1, len(tk))) AS r(i)
        WHERE len(tk) >= 2),
    freq AS (SELECT g, count(*) AS n_docs FROM grams GROUP BY g),
    per_doc AS (
        SELECT grams.doc_id,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared
        FROM grams JOIN freq USING (g)
        GROUP BY grams.doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, n_shared,
           round(n_shared / n_grams, 4) AS shared_frac
    FROM per_doc
    """,
    doc="Cross-document common-span (boilerplate) detection, CCNet-style: "
        "per-doc DISTINCT word-bigram set -> md5 span keys -> corpus "
        "document-frequency -> fraction of each doc's spans that also "
        "appear in some other document. Scale shape: explode only "
        "DISTINCT per-doc grams (bounded by doc length), one hash-agg on "
        "a fixed-width 32-char key, one equi-join back — O(total grams), "
        "never O(n_docs^2); the same span-key layout CCNet/RefinedWeb "
        "use for paragraph dedup at web scale. Physical plan: document "
        "frequency is a WINDOW count over the gram key, not a groupBy + "
        "join-back — the gram stream is shuffled once (by g) then once "
        "more for the per-doc rollup, instead of the three exchanges the "
        "self-join form costs (measured at sf0.1: 6.4 s self-join form vs "
        "3.3 s windowed form in BENCH_FULL; the remainder is fixed "
        "shuffle overhead at this corpus size).",
)
def dedup_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: one-split scan; the tokenize+bigram+md5 explode below it is
    # the dominant map cost and would otherwise run single-task (r12)
    docs = fan_out(
        table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != ""),
        "doc_id",
    )
    from ..functions.text import word_ngrams as _wng

    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(_wng(tokenize(F.col("text")), 2), F.md5)
            )
        ).alias("g"),
    )
    n_docs = F.count("*").over(Window.partitionBy("g"))
    per_doc = (
        grams.select("doc_id", (n_docs >= 2).alias("_shared"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("_shared"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_grams"), 4).alias("shared_frac"),
    )


_CONTAIN_EXCERPT_TOKENS = 20
_CONTAIN_MIN_TOKENS = 40
_CONTAIN_THRESHOLD = 0.9


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE trim(text) <> ''),
    corpus AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 40000 AS doc_id,
               array_to_string(
                   (string_split_regex(trim(lower(text)), '\\s+'))
                       [1:{_CONTAIN_EXCERPT_TOKENS}], ' ') AS text
        FROM base
        WHERE len(string_split_regex(trim(lower(text)), '\\s+'))
              >= {_CONTAIN_MIN_TOKENS}),
    sh AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(t[i:i+2], ' ')) AS g
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM corpus) x,
             unnest(range(1, len(t) - 1)) AS r(i)
        WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT i.id_a, i.id_b,
           round(CAST(i.shared AS DOUBLE) / sa.n_sh, 4) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    WHERE CAST(i.shared AS DOUBLE) / sa.n_sh >= {_CONTAIN_THRESHOLD}
    """,
    doc="CONTAINMENT dedup (Broder's asymmetric resemblance): "
        "|S(A) inter S(B)| / |S(A)| >= 0.9 flags documents whose shingle "
        "set is essentially a SUBSET of another's — the excerpt/quote/"
        "chunk-duplicate case symmetric Jaccard misses (a 20-token "
        "excerpt of a 60-token doc has Jaccard ~0.3 but containment "
        "1.0). Corpus plants excerpts (first {n} tokens of long docs) to "
        "make the flagged set verifiable. Scale shape: the pair stream "
        "is the shared-shingle join — O(collisions), bucketable by LSH "
        "exactly like jaccard_pairs' prefix filter at larger scales; "
        "containment scores are exact small-integer divisions, so the "
        "0.9 threshold has no float-boundary risk.".format(
            n=_CONTAIN_EXCERPT_TOKENS
        ),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PPJoin-style prefix filtering adapted to ASYMMETRIC containment
    # (lossless): |S(A) inter S(B)| >= ceil(t*|A|) forces a collision
    # inside A's first |A| - ceil(t*|A|) + 1 shingles under ANY fixed
    # global order — so only the contained-side PREFIX enters the join,
    # against the full candidate-container stream; survivors get exact
    # array_intersect verification. Shingle arrays come from
    # operators/dedup._shingle_arrays (frequency-ordered, built ONCE —
    # recomputing tokenize per gram was the first draft's real cost).
    # Measured 7.3 s (naive self-join) -> 3.1 s warm at sf0.1.
    from ..operators.dedup import _PREFILTER_EPS, _shingle_arrays

    base = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = tokenize(F.col("text"))
    excerpts = base.filter(F.size(toks) >= _CONTAIN_MIN_TOKENS).select(
        (F.col("doc_id") + 40000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, _CONTAIN_EXCERPT_TOKENS), " ").alias("text"),
    )
    # fan_out: the shingle-array build (tokenize + 3-gram + frequency
    # order) is the dominant map cost over a <=2-partition union (r12)
    corpus = fan_out(base.select("doc_id", "text").unionByName(excerpts), "doc_id")
    te = _CONTAIN_THRESHOLD - _PREFILTER_EPS
    arrays = (
        _shingle_arrays(corpus, "text", "doc_id", 3)
        .withColumn(
            "_plen", F.col("n_sh") - F.ceil(F.lit(te) * F.col("n_sh")).cast("int") + 1
        )
        .localCheckpoint()
    )
    prefix = arrays.select(
        F.col("doc_id").alias("id_a"),
        F.col("n_sh").alias("n_a"),
        F.explode(F.slice("shs", 1, F.col("_plen"))).alias("sh_h"),
    )
    full = arrays.select(
        F.col("doc_id").alias("id_b"),
        F.col("n_sh").alias("n_b"),
        F.explode("shs").alias("sh_h"),
    )
    cand = (
        prefix.join(full, "sh_h")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            # container must be large enough to hold t*|A| shared shingles
            & (F.col("n_b") >= te * F.col("n_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    av = arrays.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("_sa"), F.col("n_sh").alias("n_a"))
    bv = arrays.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("_sb"))
    cont = (
        F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("double")
        / F.col("n_a")
    )
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .filter(cont >= _CONTAIN_THRESHOLD)
        .select("id_a", "id_b", F.round(cont, 4).alias("containment"))
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic near-dedup within quantizer cells
# ---------------------------------------------------------------------------
#
# SemDeDup (Abbas et al. 2023): embedding-space near-dedup inside coarse
# quantizer cells — catches "different words, same meaning" duplicates
# that shingle dedup structurally cannot.

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
# ExactSubstr-style maximal repeated spans + T5 span-corruption planning
# ---------------------------------------------------------------------------

_ESS_L = 8  # repeated-gram length (tokens)


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
    {SQL_ISLANDS.format(L=_ESS_L)}
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
    perdoc = merge_fixed_spans(starts, "doc_id", "pos", _ESS_L)
    return perdoc.join(sized.select("doc_id", "n"), "doc_id").select(
        "doc_id",
        "n_spans",
        "covered_tokens",
        F.expr("(covered_tokens * 1000) div n").alias("covered_permille"),
    )


# ---------------------------------------------------------------------------
# MinHash estimate vs exact Jaccard: the dedup-threshold QA report
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_estimate_accuracy",
    oracle=f"""
    WITH {SQL_CORPUS}, {sql_shingles('corpus')}, {SQL_SIG}, {SQL_BANDED_CAND},
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
           (n_match * 1000) // {NDD_HASHES} AS est_permille,
           jaccard,
           abs((n_match * 1000) // {NDD_HASHES}
               - CAST(round(jaccard * 1000) AS BIGINT)) AS err_milli
    FROM j
    """,
    doc="MinHash estimator QA — the report that justifies the dedup "
        "suite's (bands, rows) choice: for every LSH candidate pair over "
        "the planted corpus, the signature-agreement estimate "
        f"(matching seeds / {NDD_HASHES}, integer per-mille) is laid "
        "next to the EXACT shingle Jaccard (operators/dedup."
        "jaccard_verify) with the absolute error in milli-units. At "
        f"{NDD_HASHES} hashes the estimator's standard error is "
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

    # Session-scoped shared artifacts (r9 verdict item 7): corpus,
    # signature and production-config candidate frames are the same
    # checkpointed builds the other two dedup QA queries use — built
    # once per session, identical values.
    corpus = planted_dedup_artifact(
        spark, sf_dir, "corpus"
    )  # feeds the exact-verify re-tokenize
    sigs = planted_dedup_artifact(spark, sf_dir, "sigs")
    cand = planted_dedup_artifact(
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
    est = F.expr(f"(n_match * 1000) div {NDD_HASHES}")
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


# the LSH (bands x rows) tuning curve.
#
# Banded MinHash LSH has exactly one knob that matters: how the H hashes
# split into b bands of r rows.  The S-curve says a pair with Jaccard s
# becomes a candidate with probability 1 - (1 - s^r)^b — more bands =
# higher recall and worse precision, longer bands the reverse — but the
# folklore configs are guesses until MEASURED on the corpus at hand.
# This query measures them: one signature matrix, every (b, r) split of
# the same H hashes re-banded against it, each config scored for
# candidate volume, precision and recall against the EXACT Jaccard >= 0.8
# truth pairs.  It is the "measure, don't guess" artifact for the dedup
# family, the same role the threshold curve plays for the cutoff and the
# minhash-estimate-accuracy report plays for signature width.
#
# Scale shape: the signature matrix (H rows per doc) computes ONCE and
# checkpoints; each config's re-banding is a per-doc aggregate + band
# self-join over that frame — candidates, never all pairs; the truth
# pair frame is the PPJoin output, also once.  Adding a config to the
# sweep costs one more banding pass, never another signature build.

# every exact split of the NDD_HASHES hashes: (bands, rows_per_band)
_LSH_CONFIGS = tuple(
    (NDD_HASHES // r, r)
    for r in (1, 2, 4, 8)
    if NDD_HASHES % r == 0
)
_LSH_TRUTH_T = 0.8


def _lsh_curve_oracle() -> str:
    # signature CTE (replays operators/dedup.minhash_signatures) + exact
    # truth pairs + one banded/cand/stat block per config

    parts = [f"""
    WITH {SQL_CORPUS}, {sql_shingles('corpus')},
    seeds AS (SELECT unnest(range(0, {NDD_HASHES})) AS s),
    hs AS (
        SELECT doc_id,
               ('0x' || substring(md5(shingle), 1, 15))::BIGINT
                   % {MINHASH_P} AS h
        FROM sh
    ),
    sig AS (
        SELECT doc_id, CAST(s AS INT) AS seed,
               min((h * (2 * s + 1) + s * 7919) % {MINHASH_P}) AS minhash
        FROM hs CROSS JOIN seeds GROUP BY doc_id, s
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6)
              >= {_LSH_TRUTH_T}
    )"""]
    stats = []
    for b, r in _LSH_CONFIGS:
        parts.append(f"""
    , banded_{b}_{r} AS (
        SELECT doc_id, CAST(seed // {r} AS INT) AS band,
               string_agg(CAST(seed AS VARCHAR) || '='
                          || CAST(minhash AS VARCHAR), '|'
                          ORDER BY CAST(seed AS VARCHAR) || '='
                                   || CAST(minhash AS VARCHAR)) AS band_sig
        FROM sig GROUP BY doc_id, seed // {r}
    ),
    cand_{b}_{r} AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded_{b}_{r} a
        JOIN banded_{b}_{r} b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    )""")
        stats.append(f"""SELECT CAST({b} AS BIGINT) AS bands,
           CAST({r} AS BIGINT) AS rows_per_band,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{b}_{r}) AS n_cand,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{b}_{r} c
             JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) AS tp""")
    parts.append(f"""
    SELECT bands, rows_per_band, n_cand, n_true, tp,
           CASE WHEN n_cand = 0 THEN NULL
                ELSE (tp * 1000) // n_cand END AS precision_permille,
           CASE WHEN n_true = 0 THEN NULL
                ELSE (tp * 1000) // n_true END AS recall_permille
    FROM ({" UNION ALL ".join(stats)})
    ORDER BY rows_per_band""")
    return "\n".join(parts)


@register(
    "dedup_lsh_tuning_curve",
    oracle=_lsh_curve_oracle(),
    doc=f"LSH (bands x rows) tuning curve: ONE {NDD_HASHES}-hash "
        "MinHash signature matrix (checkpointed), re-banded under every "
        f"exact split {_LSH_CONFIGS}, each config scored for candidate "
        "volume, exact-integer per-mille precision and recall against "
        f"the exact Jaccard >= {_LSH_TRUTH_T} truth pairs (the PPJoin "
        "output, computed once) — the measured S-curve that replaces "
        "the folklore (b, r) guess, companion to the threshold curve "
        "(cutoff) and the minhash-estimate-accuracy report (signature "
        "width). More bands = recall up / precision down; the config a "
        "100 TB run wants is the cheapest one whose recall clears the "
        "mandate, and this table is how it gets picked. Scale shape: "
        "signatures once, truth once, each config one per-doc banding "
        "aggregate + one band-keyed self-join over candidates — never "
        "all pairs, never a second signature build.",
)
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session-scoped shared artifacts (r9 verdict item 7): the signature
    # frame and the loose-floor exact pair frame are the SAME checkpointed
    # frames corpus_dedup_threshold_curve / dedup_minhash_estimate_accuracy
    # use — one signature build and one PPJoin serve the whole QA trio.
    # PPJoin prunes are lossless, so filtering the 0.5-floor pairs to the
    # truth threshold IS jaccard_pairs(corpus, _LSH_TRUTH_T).
    sigs = planted_dedup_artifact(
        spark, sf_dir, "sigs"
    )  # one signature build serves every config
    truth = (
        planted_dedup_artifact(spark, sf_dir, "pairs_floor")
        .filter(F.col("jaccard") >= _LSH_TRUTH_T)
        .select("id_a", "id_b")
        .localCheckpoint()  # tiny; feeds n_true + every config join
    )
    n_true = truth.groupBy().agg(F.count("*").cast("bigint").alias("n_true"))
    out = None

    for b, r in _LSH_CONFIGS:
        if (b, r) == (NDD_BANDS, NDD_RPB):
            # the production config's candidates are the shared artifact
            # frame dedup_minhash_estimate_accuracy also reranks
            cand = planted_dedup_artifact(spark, sf_dir, "cand_prod")
        else:
            cand = _D.lsh_candidate_pairs(sigs, bands=b, rows_per_band=r)
        counted = cand.join(
            truth.withColumn("_t", F.lit(1)), ["id_a", "id_b"], "left"
        ).agg(
            F.count("*").cast("bigint").alias("n_cand"),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("bigint").alias("tp"),
        )
        row = (
            counted.crossJoin(F.broadcast(n_true))
            .select(
                F.lit(b).cast("bigint").alias("bands"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                "n_cand",
                "n_true",
                "tp",
                F.when(F.col("n_cand") == 0, F.lit(None).cast("bigint"))
                .otherwise(F.expr("(tp * 1000) div n_cand"))
                .alias("precision_permille"),
                F.when(F.col("n_true") == 0, F.lit(None).cast("bigint"))
                .otherwise(F.expr("(tp * 1000) div n_true"))
                .alias("recall_permille"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rows_per_band")
