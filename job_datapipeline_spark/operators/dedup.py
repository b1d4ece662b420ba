"""Deduplication operators for a large-scale text corpus.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup —
each a pure DataFrame function over a (id, text) or (id, embedding) input.

Scale notes (the reason these shapes were chosen):
- Exact dedup is a single hash-aggregate on a 32-byte fingerprint, not on the
  full text — group keys stay small on the shuffle wire.
- MinHash/LSH avoids the O(n^2) pair space: candidate pairs come from a
  self-equi-join on (band_id, band_signature), which Spark executes as a
  shuffle hash join on a compact key. Only candidates get exact verification.
- All hashes are md5-based expressions (no Python, and an external SQL engine
  can replay them bit-identically for the correctness oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokenize, word_ngrams
from ..functions.vectors import dot, norm


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-text fingerprint."""
    return (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_fp")
    )


def _shingle_array(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per document, as an array column
    ``_shs`` — a pure map-side projection (no explode, no shuffle).

    Documents shorter than ``n`` tokens fall back to a single whole-document
    shingle (all tokens joined), so short docs still get signatures / LSH
    coverage instead of silently vanishing from the pair space.
    """
    # Materialize the token array AND the n-gram array each in their own
    # projection: both are referenced twice downstream (the when() guard
    # re-references grams; the fallback re-references tokens), and a
    # multi-referenced alias survives CollapseProject while an inlined
    # expression is re-evaluated per reference (measured 1.7x on the
    # shingle pipeline).
    pg = _projected_grams(df, text_col, n)
    return pg.select("*", _distinct_shingles().alias("_shs")).drop("_toks", "_grams")


def _projected_grams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    toked = df.select("*", tokenize(F.col(text_col)).alias("_toks"))
    return toked.select("*", word_ngrams(F.col("_toks"), n).alias("_grams"))


def _distinct_shingles() -> F.Column:
    with_fallback = F.when(F.size("_grams") > 0, F.col("_grams")).otherwise(
        F.array(F.array_join(F.col("_toks"), " "))
    )
    return F.array_distinct(with_fallback)


def _shingles(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per document, one row per shingle.

    Deliberately NOT built on :func:`_shingle_array` + explode: putting the
    shingle array in its own projection below the Generate measured 3-6x
    slower on the jaccard path (the wide array column crosses an extra
    operator boundary); inlining the array expression as the generator
    child keeps it inside the Generate node.  (That measurement is about
    one LAZY codegen pipeline — exploding a MATERIALIZED array column from
    a checkpointed ``shingle_string_arrays`` frame has no such penalty,
    which is what makes the shared prebuilt-shingle path viable.)
    """
    pg = _projected_grams(df, text_col, n)
    return pg.select("*", F.explode(_distinct_shingles()).alias("shingle")).drop(
        "_toks", "_grams"
    )


def shingle_string_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """The SHARED shingle stage: distinct word n-gram shingle STRINGS per
    document as ``(id, _shs array<string>)`` — the common prefix of both
    :func:`minhash_signatures` (which md5s the strings) and
    :func:`jaccard_pairs` (which xxhash64s them).  Build it once per
    corpus, materialize (localCheckpoint / persisted table), and feed both
    operators via their ``shingles=`` input: the tokenize -> n-gram ->
    distinct pipeline — the dominant map-side cost of both — then runs
    ONCE instead of once per consumer (the r9 dedup-QA-trio memo's missing
    lever, closed in r11).  At 100 TB this frame is a persisted column of
    the corpus table, written at ingest."""
    return _shingle_array(df.select(id_col, text_col), text_col, shingle_n).select(
        id_col, "_shs"
    )


# Modulus of the minhash family: Mersenne prime 2^31-1. Base hash values sit
# in [0, P); multipliers are < 2^5, so every intermediate product stays well
# under 2^63 — safe in Spark bigint AND in DuckDB BIGINT (which errors on
# overflow rather than wrapping, so staying in range is a correctness
# requirement of the cross-engine replay, not just hygiene).
MINHASH_P = (1 << 31) - 1


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: for seed i,
    min over shingles of ((h * (2i+1) + 7919*i) mod P) where
    h = conv(md5(shingle)[:15], 16, 10) mod P.

    ``shingles``: optional prebuilt ``(id, _shs)`` frame from
    :func:`shingle_string_arrays` — pass the SAME materialized frame here
    and to :func:`jaccard_pairs` to shingle the corpus once for both.
    Semantics are identical either way (the default path builds the same
    frame inline).

    One md5 per shingle (not per shingle x seed — measured 2.4x faster at
    sf0.1) followed by a multiply-add hash family over the 60-bit base
    value; every step is replayable bit-identically by an external SQL
    engine (DuckDB: ('0x' || substring(md5(s),1,15))::BIGINT). Output:
    (id, seed, minhash bigint) — long form, one row per (doc, hash fn).

    Computed ENTIRELY map-side: per-doc shingle array -> base-hash array in
    its own projection (multi-referenced alias survives CollapseProject) ->
    explode only the ``num_hashes`` seeds -> ``array_min(transform(...))``
    takes the min inside one codegen'd expression. Zero shuffles — the
    naive explode(shingles) x seeds form shuffles |docs| x |shingles| x
    num_hashes rows into a groupBy for the identical result.
    """
    arr = (
        shingles
        if shingles is not None
        else _shingle_array(df.select(id_col, text_col), text_col, shingle_n)
    )
    base = arr.select(
        id_col,
        F.transform(
            "_shs",
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
            % MINHASH_P,
        ).alias("_hs"),
    )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")
    return base.select(id_col, seeds, "_hs").select(
        id_col,
        "seed",
        F.array_min(
            F.transform(
                "_hs",
                lambda h: (h * (2 * F.col("seed") + 1) + F.col("seed") * 7919)
                % MINHASH_P,
            )
        ).alias("minhash"),
    )


def band_table(
    signatures: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 4,
) -> DataFrame:
    """The persistable LSH index: (id, band, band_sig) — one row per
    (document, band), ``band_sig`` the sorted seed=minhash concatenation
    of the band's rows.

    This is the frame an incremental 100 TB pipeline stores between runs
    (parquet, partitioned by ``band`` so a probe touches only matching
    band partitions): corpus signatures are computed once at ingest and
    never again; each new batch computes ONLY its own signatures and
    band-joins against this table (``lsh_join_state``). The string form
    is deliberate — it round-trips losslessly through parquet/CSV and is
    replayable bit-identically by an external SQL engine for oracles.
    """
    return (
        signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws("=", F.col("seed").cast("string"), F.col("minhash"))
                    )
                ),
            ).alias("band_sig")
        )
    )


def lsh_join_state(
    state_bands: DataFrame,
    batch_bands: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe a batch's band table against a persisted state band table:
    distinct (id_a=state id, id_b=batch id) candidate pairs whose any
    band collides.

    The asymmetric form of ``lsh_candidate_pairs``'s self-join: cost is
    O(batch bands) probe-side, and with the state table partitioned by
    ``band`` the scan prunes to the probed band partitions. Neither side
    is re-shingled here — both inputs are already banded, so a daily
    batch against a 100 TB corpus reads only the index, never the text.

    The BATCH side is broadcast (guide §3.1) when the optimizer's size
    estimate for it is within the session's ``autoBroadcastJoinThreshold``:
    state grows without bound while a batch is one arrival's bands, so the
    hint keeps the planner from shuffling the state side even when the
    state looks smaller — the state scan streams map-side against the
    O(batch) hash relation. A ``localCheckpoint``ed batch reports its size
    like any other frame, and reading the estimate starts no job. A batch
    over the threshold (or any batch, when the threshold is negative) gets
    no hint and the planner picks the join, so an outsized arrival can
    never force a driver-side hash relation.
    """
    a = state_bands.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = batch_bands.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    limit = b.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if int(b._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) <= limit:
        b = F.broadcast(b)
    return a.join(b, ["band", "band_sig"]).select("id_a", "id_b").distinct()


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signature and self-join on (band, band_signature).

    A pair of documents becomes a candidate if ANY band's concatenated
    minhashes match exactly. Returns distinct (id_a < id_b) pairs.

    The banded frame feeds BOTH sides of the self-join; Spark does not
    CSE identical subplans, so lazily the whole signature pipeline
    (shingle -> md5 -> minhash -> band agg) executes once per side
    unless AQE's ReusedExchange catches the identical shuffle.
    Materialized explicitly: back-to-back sf0.1 measurements showed the
    checkpointed form faster or equal on every caller (the composed
    incremental-dedup query 2.5s vs 4.3s), and it removes the reliance
    on runtime exchange-reuse heuristics entirely. At 100 TB this frame
    is the natural index table to persist anyway (write partitioned by
    (band, hash(band_sig))) — ``band_table`` below is exactly that
    persistable form, and ``lsh_join_state`` probes a new batch against
    it without recomputing corpus signatures.
    """
    banded = band_table(signatures, id_col=id_col, rows_per_band=rows_per_band).localCheckpoint()
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _shingle_arrays(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc shingle-hash array, ordered by ascending GLOBAL shingle
    document-frequency (the AllPairs canonical order: rare shingles first,
    so thresholded prefixes carry maximum selectivity). Ties by hash.

    Output: (id, shs: array<bigint>, n_sh). The frequency join is a plain
    join on purpose — the freq side is |distinct shingles| and must NOT be
    force-broadcast at 100 TB; AQE broadcasts it when it is actually small.

    ``shingles``: optional prebuilt ``(id, _shs)`` string-array frame
    (:func:`shingle_string_arrays`) — exploding a MATERIALIZED array
    column skips the whole tokenize/n-gram stage and carries none of the
    lazy-pipeline penalty the :func:`_shingles` docstring describes.
    """
    if shingles is not None:
        sh = shingles.select(id_col, F.explode("_shs").alias("shingle")).select(
            id_col, F.xxhash64("shingle").alias("sh_h")
        )
    else:
        sh = _shingles(df.select(id_col, text_col), text_col, shingle_n).select(
            id_col, F.xxhash64("shingle").alias("sh_h")
        )
    freq = sh.groupBy("sh_h").agg(F.count("*").alias("_freq"))
    return (
        sh.join(freq, "sh_h")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_freq", "sh_h"))),
                lambda s: s["sh_h"],
            ).alias("shs")
        )
        .withColumn("n_sh", F.size("shs"))
    )


# Prefilters use exact arithmetic while the FINAL filter compares
# round(jaccard, 6) >= threshold (the oracle-replayable form). A pair whose
# true Jaccard sits within half an ulp-of-rounding below the threshold would
# round up yet fail an exact-math prefilter, so prefilters relax the
# threshold by this epsilon. (With shingle-set sizes in the thousands the
# nearest ratio to the threshold is >= 1/(2*max_n) away, so the window is
# pure insurance.)
_PREFILTER_EPS = 1e-6


def _jaccard_from_arrays(cand: DataFrame, arrays: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b) candidates -> exact Jaccard via array_intersect against
    the per-doc shingle arrays. Two plain joins on id (AQE broadcasts small
    array sides; at 100 TB they shuffle on id, cost O(candidates))."""
    arr_a = arrays.select(
        F.col(id_col).alias("id_a"), F.col("shs").alias("_sa"), F.col("n_sh").alias("_na")
    )
    arr_b = arrays.select(
        F.col(id_col).alias("id_b"), F.col("shs").alias("_sb"), F.col("n_sh").alias("_nb")
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cand.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn("inter", inter)
        .filter(F.col("inter") > 0)
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("_na") + F.col("_nb") - F.col("inter")), 6),
        )
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """ALL pairs with n-gram Jaccard >= threshold — AllPairs/PPJoin style.

    ``shingles``: optional prebuilt ``(id, _shs)`` frame from
    :func:`shingle_string_arrays`, shared with :func:`minhash_signatures`
    — one shingle build feeding both operators.

    Naive form is a full shingle self-join: every pair sharing ANY shingle
    materializes, almost all far below threshold (measured 21.5M candidate
    pairs -> 17k survivors on the sf0.1 planted corpus). Instead, three
    LOSSLESS prunes from the similarity-join literature (Bayardo et al.
    "Scaling Up All Pairs", Xiao et al. PPJoin):

    - prefix filter: order each doc's shingles by ascending global
      frequency; J(A,B) >= t implies |A∩B| >= ceil(t*|A|), so a qualifying
      pair MUST collide within each doc's first n - ceil(t*n) + 1 shingles.
      Only prefixes enter the self-join.
    - length filter: J(A,B) >= t implies t*|B| <= |A| <= |B|/t.
    - positional filter: a collision at prefix positions (pa, pb) caps the
      remaining overlap at 1 + min(n_a-pa-1, n_b-pb-1), which must reach
      ceil(t/(1+t)*(n_a+n_b)).

    Survivors get EXACT verification via ``array_intersect`` on per-doc
    shingle arrays — no second shingle self-join. Same output as the naive
    form (pairs sharing zero shingles have Jaccard 0 < threshold and are
    never output by either form; threshold=0 would need the naive form).

    The arrays frame feeds three plan subtrees (prefix explode + both verify
    sides), so it is localCheckpoint'd — one materialization of an
    O(corpus)-size frame instead of three recomputes of the tokenize/
    shingle/frequency pipeline. Measured 13.1s vs 23.6s naive at sf0.1
    (15k docs); at 100 TB this checkpoint becomes a persisted table and the
    prefix join's candidate count — not the O(n^2) pair space — is the cost.
    """
    t = float(threshold)
    te = max(t - _PREFILTER_EPS, 0.0)
    arrays = _shingle_arrays(df, text_col, id_col, shingle_n, shingles).withColumn(
        "_plen", F.col("n_sh") - F.ceil(F.lit(te) * F.col("n_sh")).cast("int") + 1
    )
    arrays = arrays.localCheckpoint()

    pre = arrays.select(
        id_col, "n_sh", F.posexplode(F.slice("shs", 1, F.col("_plen"))).alias("pos", "sh_h")
    )
    a = pre.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), F.col("pos").alias("pa"), "sh_h"
    )
    b = pre.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), F.col("pos").alias("pb"), "sh_h"
    )
    alpha = F.ceil(F.lit(te / (1.0 + te)) * (F.col("n_a") + F.col("n_b")))
    cand = (
        a.join(b, "sh_h")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_a") >= te * F.col("n_b"))
            & (F.col("n_b") >= te * F.col("n_a"))
            & (1 + F.least(F.col("n_a") - F.col("pa") - 1, F.col("n_b") - F.col("pb") - 1) >= alpha)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_from_arrays(cand, arrays, id_col).filter(
        F.col("jaccard") >= threshold
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate-pair list (id_a, id_b).

    Docs that appear in no candidate pair are semi-join pruned BEFORE
    shingling — at 100 TB the verify stage re-tokenizes only the (tiny)
    candidate subset, not the corpus — then each pair is scored with one
    JVM-native ``array_intersect`` over the per-doc shingle arrays: cost
    O(candidates x shingles-per-doc), never the O(n^2) shingle self-join.
    Pairs sharing zero shingles produce NO row (they are non-candidates by
    construction). This is the verification stage near_dedup runs after
    LSH candidate generation.
    """
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs = df.select(id_col, text_col).join(cand_ids, id_col, "left_semi")
    # array_intersect is order-blind, so unlike jaccard_pairs (whose prefix
    # filter needs the global-frequency order of _shingle_arrays) the verify
    # arrays build MAP-SIDE: no frequency groupBy, no join. Checkpointed
    # because the pair join references the frame twice (id_a and id_b sides)
    # and a shuffle-free subtree has no exchange for AQE to reuse.
    arrays = (
        _shingle_array(docs, text_col, shingle_n)
        .select(id_col, F.transform("_shs", lambda s: F.xxhash64(s)).alias("shs"))
        .withColumn("n_sh", F.size("shs"))
        .localCheckpoint()
    )
    return _jaccard_from_arrays(pairs, arrays, id_col)


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """The composed scale-safe near-dedup pipeline:

        MinHash signatures -> LSH banding (candidate pairs)
        -> exact Jaccard verify on candidates only
        -> keep-list (drop any doc with a verified dup of smaller id).

    Returns the surviving rows of ``df``. Greedy pairwise keep-lowest-id
    semantics (NOT transitive closure — a connected-components pass would be
    iterative and is deliberately out of this one-shot plan; for chains
    a~b~c with a!~c, both a and c survive).

    Every stage is bounded: signatures are O(docs x hashes), the banded
    self-join keys are compact (band, band_sig) strings, and verification
    touches candidate pairs only — nothing in the plan is O(n^2) in the
    corpus size.

    Plan-shape note: the verify stage references the candidate frame three
    times (pairs, id_a semi-prune, id_b semi-prune), so without
    materialization the printed plan repeats the signature->banding subtree.
    The candidates are localCheckpoint'd — one execution of the MinHash/LSH
    stage, then a tiny pair list feeds verification (measured 8.1s vs 11.9s
    relying on ReusedExchange at sf0.1; lazy ``persist`` was slower still —
    it pins the pre-AQE plan). At 100 TB the candidate list is the natural
    stage boundary to persist as a table anyway.
    """
    rows_per_band = max(num_hashes // bands, 1)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band).localCheckpoint()
    verified = jaccard_verify(df, cands, text_col, id_col, shingle_n)
    drops = (
        verified.filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "left_anti")


def embedding_near_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """The composed scale-safe EMBEDDING near-dedup pipeline — the vector
    twin of :func:`near_dedup`:

        hyperplane-LSH bucket (deterministic seeded planes)
        -> exact cosine verify on bucket COLLISIONS only
        -> keep-list (drop any vector with a verified dup of smaller id).

    Returns the surviving rows of ``df``. Identical vectors always share a
    bucket (same sign pattern), so exact copies are dropped with recall 1.0;
    near-dups missed by bucketing are the standard LSH recall trade (raise
    ``num_planes`` bands via multiple calls, or lower num_planes, to tune).

    Nothing is O(n^2): candidates come from a self-equi-join on the compact
    bucket key, and the cosine evaluates once per collision. At 100 TB the
    corpus is written partitioned by bucket and the self-join is
    partition-local.
    """
    from .similarity import _hyperplane, hyperplane_bucket

    planes = [_hyperplane(s, dim) for s in range(num_planes)]
    base = (
        df.select(id_col, vec_col)
        .withColumn("_b", hyperplane_bucket(F.col(vec_col), planes))
        .withColumn("_n", norm(F.col(vec_col)))
    )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), F.col("_n").alias("_na"), "_b"
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("_n").alias("_nb"), "_b"
    )
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(denom > 0, dot(F.col("_va"), F.col("_vb")) / denom).otherwise(F.lit(0.0))
    drops = (
        a.join(b, "_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "left_anti")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    shingle_n: int | None = None,
) -> DataFrame:
    """SimHash: per feature, md5 -> ``bits``-bit int; per bit, sum(+1/-1)
    over features; sign vector -> ``bits``-bit fingerprint. Near-dups differ
    in few bits (compare with ``bit_count(a ^ b)`` / hamming).

    Features are distinct tokens by default; pass ``shingle_n`` to use
    distinct word n-grams instead (with the short-doc whole-text fallback of
    :func:`_shingle_array`). Shingles are the right choice on corpora with a
    small shared vocabulary: token SETS of unrelated documents then nearly
    coincide and token-feature signatures collapse toward each other, while
    the n-gram space keeps unrelated signatures ~uniform.

    ``bits`` is capped at 60 because the hash value is carried as the first
    15 hex chars of md5 in a signed bigint; asking for more raises rather
    than silently truncating.

    Shape: features explode, conv(md5-prefix) to bigint ONCE per feature
    row, then one hash-aggregate with ``bits`` sign-sums (map-side partial
    combine keeps the shuffle at |docs| x bits longs). A fully map-side
    array/``aggregate`` formulation was tried and REVERTED: its per-bit
    counts array is single-referenced, so Catalyst inlines the whole
    hash-array aggregate into the per-bit assembly lambda and re-evaluates
    the md5 pipeline ``bits`` times per doc (measured 50x slower) — the
    groupBy form keeps an aggregation boundary Catalyst cannot collapse
    through. No UDF anywhere.
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60] (got {bits}); the signature "
                         "is assembled from a 15-hex-char md5 prefix in a signed bigint")
    if shingle_n is None:
        feats = df.select(
            id_col, F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("tok")
        )
    else:
        feats = _shingle_array(df.select(id_col, text_col), text_col, shingle_n).select(
            id_col, F.explode("_shs").alias("tok")
        )
    h = feats.withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint"))
    bit_cols = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = h.groupBy(id_col).agg(*bit_cols)
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(2 ** i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return agg.select(id_col, sig.alias("simhash"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS rolling-hash scheme): hash every character k-gram, slide a
    w-window over the hash sequence, keep each window's minimum — the
    selected mins are position-robust local fingerprints whose overlap
    localizes COPIED SPANS between documents (minhash answers "how similar";
    winnowing answers "which parts match").

    Guarantees: any shared substring of length >= w + k - 1 contributes at
    least one identical fingerprint to both documents.

    Fingerprints are 8-hex-char md5 prefixes kept as STRINGS: lexicographic
    min over lowercase hex equals numeric min, and every engine with md5()
    replays the selection bit-identically (no integer-conversion gymnastics).
    Entirely map-side expressions — no explode before the final distinct,
    no shuffle, no UDF. The k-gram hash array is referenced by BOTH the
    length guard and the window-min transform: the double reference keeps
    it materialized per row (a single-referenced alias would be inlined
    into the window lambda and the md5 pipeline re-evaluated per window —
    the Catalyst trap measured at 50x on simhash).

    Docs shorter than k + w - 1 characters have no full window and emit no
    fingerprints (mirrored by the oracle's length guard).
    """
    # explicit length guard: sequence(1, 0) in Spark is DESCENDING [1, 0]
    # (step defaults to -1 when start > stop), not empty.
    # lower(text) is HOISTED into its own multi-referenced projection:
    # referenced inside the per-position transform lambda it is
    # re-evaluated per k-gram (O(len^2) character work per doc — the same
    # Catalyst inlining trap the _hs double-reference below guards
    # against); hoisted, the row computes it once. Measured 3.83 -> 2.95 s
    # on the sf0.1 2000-doc slice, identical output.
    lowered = df.select(id_col, F.lower(F.col(text_col)).alias("_lt"))
    hs = lowered.select(
        id_col,
        F.expr(
            f"CASE WHEN length(_lt) >= {k} THEN "
            f"transform(sequence(1, length(_lt) - {k - 1}), "
            f"i -> substring(md5(substring(_lt, i, {k})), 1, 8)) "
            "ELSE CAST(array() AS array<string>) END"
        ).alias("_hs"),
    )
    return (
        hs.filter(F.size("_hs") >= w)
        .select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(_hs) - {w - 1}), "
                        f"j -> array_min(slice(_hs, j, {w})))"
                    )
                )
            ).alias("fingerprint"),
        )
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    transitive-closure pass that turns pairwise near-dup EDGES into dup
    CLUSTERS (``near_dedup`` alone is greedy-pairwise: for chains a~b~c
    with a!~c it keeps both a and c; components assigns all three one
    cluster id).

    Each iteration is one distributed shuffle join: every node adopts the
    minimum label among itself and its neighbors; fixpoint when no label
    shrinks. Converges in O(component diameter) iterations — near-dup
    clusters are short chains (diameter <= a few hops), so 2-4 iterations in
    practice; ``max_iterations`` bounds pathological inputs (a 100 TB run
    on adversarial chain graphs would switch to the O(log n) large-star/
    small-star variant). The per-iteration label frame (two longs per node)
    is localCheckpoint'd: iterative lineage otherwise grows a plan Catalyst
    re-optimizes from scratch each round. The ONLY driver-side value is the
    scalar changed-count that decides convergence — labels themselves never
    leave the cluster.

    Returns (id_col, component_id) where component_id = min node id in the
    component; isolated nodes keep their own id.
    """
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("comp")
    ).localCheckpoint()
    adj = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        nbr_min = (
            adj.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("src", "node")
        )
        new_labels = (
            labels.withColumnRenamed("comp", "old")
            .join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("old"), F.coalesce("nbr_comp", F.col("old"))).alias("comp"),
                "old",
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("comp") < F.col("old")).count()
        labels = new_labels.drop("old")
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias(id_col), F.col("comp").alias("component_id")
    )


def near_dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """The cluster-complete composed pipeline: MinHash -> LSH candidates ->
    exact Jaccard verify -> verified pairs as edges -> connected components.
    Returns (id, component_id): every document labeled with its dup-cluster
    representative (min id), transitively closed — the grouping
    ``near_dedup``'s greedy keep-list approximates."""
    rows_per_band = max(num_hashes // bands, 1)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band).localCheckpoint()
    edges = jaccard_verify(df, cands, text_col, id_col, shingle_n).filter(
        F.col("jaccard") >= threshold
    )
    return connected_components(df.select(id_col), edges, id_col)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    shingle_n: int | None = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs via hamming-band LSH — the candidate +
    verify stage that turns :func:`simhash` fingerprints into an actual
    dedup operator.

    Pigeonhole recall guarantee: split the ``bits``-bit signature into
    ``bands`` equal slices; two signatures within hamming distance
    ``max_hamming`` < ``bands`` MUST agree exactly on at least one slice, so
    the banded self-equi-join loses nothing below the threshold. Candidates
    are verified with one ``bit_count(xor)`` — both candidate generation and
    verification are O(collisions), never O(n^2) in the corpus.

    Everything is integer expressions over the md5-derived signature, so an
    external SQL engine replays the identical pair set (the correctness
    oracle does).
    """
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must be divisible by bands ({bands})")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for the "
            "pigeonhole recall guarantee; add bands or lower the threshold"
        )
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    # both sides of the banded self-join derive from the signature frame;
    # checkpoint it (|docs| x one bigint — tiny) so the shingle/md5/sign-sum
    # pipeline runs once, not once per join side
    sigs = simhash(df, text_col, id_col, bits, shingle_n=shingle_n).localCheckpoint()
    banded = sigs.select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        # pyspark's F.shiftright only takes a literal shift; the SQL form
        # accepts an expression
        "band_val",
        F.expr(f"shiftright(simhash, band * {band_bits}) & {mask}"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"), "band", "band_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"), "band", "band_val"
    )
    # bigint so external engines (DuckDB bit_count -> TINYINT) cast to the
    # same comparison type
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("bigint")
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force, id_a < id_b).

    At 100 TB this is the verification stage after LSH/IVF bucketing
    (see similarity.py); standalone it is O(n^2/2) and correct.

    Norms are computed ONCE PER VECTOR before the pair join (an O(n)
    projection), so the O(n^2) pair stage evaluates a single dot product —
    not three — per pair. Same expression tree per value, so results are
    bit-identical to the naive form.
    """
    with_norm = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), norm(F.col(vec_col)).alias("_n")
    )
    a = with_norm.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na")
    )
    b = with_norm.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
    )
    denom = F.col("na") * F.col("nb")
    cos = F.when(denom > 0, dot(F.col("va"), F.col("vb")) / denom).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_prune(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    centroid_ids: tuple[int, ...] = (0, 7, 14, 21, 28, 35, 42, 49),
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    WITHIN each cluster drop every vector whose cosine to a lower-id
    cluster member is >= threshold (keep-min-id). Returns the surviving
    rows of ``df`` plus their ``cell`` assignment.

    This is the data-adaptive twin of :func:`embedding_near_dedup`:
    hyperplane-LSH buckets are oblivious (fixed random planes), SemDeDup
    cells follow the data distribution — dense semantic regions land in
    the same cell, so the within-cell pair scan finds "different words,
    same meaning" duplicates that shingle-based dedup structurally cannot.

    The quantizer is the same training-free design as similarity.ivf_topk
    (centroids = corpus vectors at fixed ids; a k-means refinement slots
    in identically — see embedding_kmeans_refine): L2 argmin over a
    broadcast centroid dim, distance rounded to 6 decimals, ties by
    centroid id, so the cell assignment is engine-replayable.

    Scale shape: assignment is a broadcast join + per-id window argmin
    (one shuffle on the id); the pair stage is a self-equi-join ON THE
    CELL KEY — O(sum of cell^2) not O(n^2), and at 100 TB the corpus is
    written partitioned by cell so it is partition-local. Cell sizes are
    bounded by centroid count choice (sqrt-n centroids keeps expected
    cell size sqrt-n; the paper prunes within k-means clusters of ~1e4
    for 1e8 docs).
    """
    from ..functions.vectors import l2_distance
    from pyspark.sql import Window

    cents = df.filter(F.col(id_col).isin(*centroid_ids)).select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cent")
    )
    d = F.round(l2_distance(F.col(vec_col), F.col("_cent")), 6)
    w = Window.partitionBy(id_col).orderBy(F.asc("_d"), F.asc("_cid"))
    # Three consumers (both pair-join sides + the final anti-join LHS):
    # materialize the assignment once — at scale this is the
    # write-partitioned-by-cell step; lazily, Spark would recompute the
    # broadcast-argmin per consumer (no subplan CSE).
    assigned = (
        df.join(F.broadcast(cents))
        .withColumn("_d", d)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(id_col, vec_col, F.col("_cid").alias("cell"))
        .localCheckpoint()
    )
    base = assigned.withColumn("_n", norm(F.col(vec_col)))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"), "cell",
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"), "cell",
    )
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(denom > 0, dot(F.col("_va"), F.col("_vb")) / denom).otherwise(F.lit(0.0))
    drops = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", F.round(cos, 6))
        .filter(F.col("_cos") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(drops, id_col, "left_anti")
