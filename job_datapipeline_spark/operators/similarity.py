"""Approximate-nearest-neighbor search over an embedding column.

Three strategies:
- brute_force_topk: exact cosine top-k. One broadcast of the (small) query
  set against the corpus — a single codegen'd stage, no shuffle until the
  final per-query top-k window. Baseline and verification path.
- lsh_topk: random-hyperplane LSH bucketing (sign of dot with h fixed
  deterministic hyperplanes = bucket key). Corpus and queries hash to
  buckets; candidates = bucket collisions; exact cosine only on candidates.
  At 100 TB the corpus side is pre-bucketed and written partitioned by
  bucket, so a query touches only its bucket partitions.
- ivf_topk: inverted-file coarse quantization — data-adaptive cells
  (nearest-centroid assignment) instead of LSH's oblivious buckets;
  queries probe nprobe cells.

Hyperplanes are generated from a seeded deterministic stream (no RNG at plan
time) so results are reproducible run-to-run.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_distance, norm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Query set must be broadcastable.

    Norms are precomputed per row on both sides (O(n+q) projections), so
    the O(n x q) scoring stage is one dot product per pair — bit-identical
    values, a third of the arithmetic."""
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("_qvec"), norm(F.col(vec_col)).alias("_qn")
    )
    c = corpus.select(
        F.col(corpus_id), F.col(vec_col).alias("_cvec"), norm(F.col(vec_col)).alias("_cn")
    )
    denom = F.col("_cn") * F.col("_qn")
    cos = F.when(denom > 0, dot(F.col("_cvec"), F.col("_qvec")) / denom).otherwise(F.lit(0.0))
    scored = c.join(F.broadcast(q)).withColumn("cos", F.round(cos, 6))
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        for off in range(0, 16, 4):
            (u,) = struct.unpack(">I", h[off : off + 4])
            vals.append((u / 2**31) - 1.0)  # uniform [-1, 1)
            if len(vals) == dim:
                break
        i += 1
    return vals


def hyperplane_bucket(vec_col, planes: list[list[float]]):
    """Sign-of-dot-product bucket key: a string of h bits.

    Fails loudly (raise_error in the expression path, so it cannot be pruned
    away) when the embedding length differs from the hyperplane dimension —
    a silent mismatch would null out every dot product and collapse all
    vectors into one bucket, i.e. a full scan masquerading as an index.
    """
    dim = len(planes[0])
    bits = []
    for p in planes:
        plane = F.array(*[F.lit(v) for v in p])
        bits.append(F.when(dot(vec_col, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.when(F.size(vec_col) == dim, F.concat(*bits)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh bucket: embedding dim mismatch (expected {dim}, got "),
                F.size(vec_col).cast("string"),
                F.lit(")"),
            )
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: exact cosine ranking within the query's LSH bucket.

    Recall < 1.0 by construction (that is the scale trade); verify recall
    against brute_force_topk in tests.
    """
    planes = [_hyperplane(s, dim) for s in range(num_planes)]
    c = corpus.select(
        corpus_id, F.col(vec_col).alias("_cvec"), norm(F.col(vec_col)).alias("_cn")
    ).withColumn("bucket", hyperplane_bucket(F.col("_cvec"), planes))
    q = queries.select(
        query_id, F.col(vec_col).alias("_qvec"), norm(F.col(vec_col)).alias("_qn")
    ).withColumn("bucket", hyperplane_bucket(F.col("_qvec"), planes))
    denom = F.col("_cn") * F.col("_qn")
    cos = F.when(denom > 0, dot(F.col("_cvec"), F.col("_qvec")) / denom).otherwise(F.lit(0.0))
    scored = c.join(F.broadcast(q), "bucket").withColumn("cos", F.round(cos, 6))
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


def ivf_assign(
    df: DataFrame,
    cents: DataFrame,
    id_col: str,
    out_rank: int,
    vec_col: str = "_v",
) -> DataFrame:
    """Nearest-centroid assignment: each row of ``df`` joined (broadcast)
    against the centroid frame ``cents`` (columns ``cid``, ``_cent``),
    keeping its ``out_rank`` nearest cells by L2 (rounded to 6 decimals
    for cross-engine reproducibility, ties by centroid id).  out_rank=1
    is corpus assignment; out_rank=nprobe is query-side multi-probe.
    Output: ``df``'s columns plus ``cell``.

    An EMPTY centroid frame (bad centroid ids, or a corpus filter that
    excludes them all) would make every downstream assignment — and so
    every index write, append, and probe — silently empty.  The guard
    below fails the job loudly instead: a 1-row aggregate of the centroid
    count (groupBy().agg yields one row even on empty input) carries an
    ``assert_true`` and is broadcast-crossJoined onto the DATA side
    BEFORE the centroid join.  Placement is the whole trick (the
    exact_rank_values pattern, plus an AQE lesson): a guard attached
    AFTER the assign join sits downstream of the join that goes empty,
    so AQE's empty-relation propagation prunes it before its broadcast
    is ever built; attached to the non-empty df side, the guard
    broadcast is a first-wave leaf stage whose build evaluates the
    assert.  The ``coalesce(1)`` matters too: it keeps the count
    aggregate shuffle-free, so the assert projection executes INSIDE the
    broadcast build's single stage — with a two-stage agg the assert
    lives above the shuffle and the empty-propagation replan eliminates
    it before its stage is ever created.  (A union-sentinel variant was
    rejected: Union's constraint rewrite crashes on localCheckpoint
    inputs whose LogicalRDD carries stale origin constraints.)  Cost:
    one kilobyte-frame single-partition count and a 1-row broadcast per
    assignment, constant at any corpus scale.

    SPARK-VERSION SENSITIVITY: this guard is built on optimizer
    internals (AQE empty-relation propagation order, column pruning,
    single-stage agg placement) as of Spark 4.1.x.  An upgrade could
    turn it into a no-op that FAILS OPEN — silently-empty results, the
    exact mode it prevents.  `tests/test_round11.py` pins it with AQE
    both on and off; re-run those tests deliberately on any Spark
    version bump."""
    nc = cents.coalesce(1).groupBy().agg(
        F.coalesce(F.count("*"), F.lit(0)).cast("long").alias("_nc")
    )
    chk = F.assert_true(
        F.col("_nc") > 0,
        F.lit(
            "ivf_assign: centroid frame is empty — downstream assignments "
            "would be silently empty (check centroid ids / corpus filter)"
        ),
    )
    guard = nc.select(F.when(chk.isNull(), F.col("_nc")).alias("_nc"))
    d = F.round(l2_distance(F.col(vec_col), F.col("_cent")), 6)
    w = Window.partitionBy(id_col).orderBy(F.asc("_d"), F.asc("cid"))
    return (
        df.crossJoin(F.broadcast(guard))
        .join(F.broadcast(cents))
        .withColumn("_d", d)
        .withColumn("_r", F.row_number().over(w))
        # the `_nc >= 0` conjunct is an always-true, non-foldable consumer
        # of the guarded count: without a downstream reference, column
        # pruning strips the assert projection out of the broadcast build
        .filter((F.col("_r") <= out_rank) & (F.col("_nc") >= 0))
        .drop("_cent", "_d", "_r", "_nc")
        .withColumnRenamed("cid", "cell")
    )


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    centroid_ids: tuple[int, ...],
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and PERSIST the IVF index — the pay-once-at-write-time step
    the probe path's economics depend on (docs/SCALING.md: at 100 TB the
    index IS the persisted layout).

    Two tables under ``path``:
    - ``centroids``: the coarse quantizer (cid, cent) — tiny, unpartitioned.
    - ``cells``: the corpus with its nearest-centroid assignment and the
      PRECOMPUTED L2 norm, written ``partitionBy("cell")`` so a probe
      reads only its nprobe cell partitions (partition pruning at the
      scan) and never recomputes a corpus norm.

    Centroids are corpus vectors at fixed ids (the training-free
    quantizer of :func:`ivf_topk`); :func:`ivf_index_write_frame` is the
    TRAINED-quantizer form — pass it k-means-refined centroids and the
    rest of the layout is identical.  Floats round-trip parquet
    bit-exactly, so a probe of the persisted index equals the in-session
    :func:`ivf_topk` plan — the ``ann_ivf_index_roundtrip`` oracle
    certifies exactly that."""
    cents = corpus.filter(F.col(corpus_id).isin(*centroid_ids)).select(
        F.col(corpus_id).alias("cid"), F.col(vec_col).alias("cent")
    )
    ivf_index_write_frame(corpus, path, cents, corpus_id, vec_col)


def _cells_frame(
    assigned: DataFrame,
    corpus_id: str,
    vec_col: str,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The persisted ``cells`` projection of an assignment frame: cell key,
    id, metadata, the vector under its public name, and the write-time L2
    norm.  ONE definition shared by the build and append paths (write_frame,
    ivf_index_append, ivf_pq_index_*) so the cells schema and the vnorm
    computation cannot drift between them."""
    return assigned.select(
        "cell",
        corpus_id,
        *meta_cols,
        F.col("_v").alias(vec_col),
        norm(F.col("_v")).alias("vnorm"),
    )


def _write_cells(
    cells: DataFrame,
    path: str,
    mode: str,
    partition_cols: tuple[str, ...] = ("cell",),
) -> None:
    """Cluster by the partition key(s), then ``partitionBy`` write (guide
    §6): each leaf directory is written by exactly one task — one file per
    partition value instead of (tasks x values) small files, so the probe
    side lists/opens the minimum file count."""
    writer = cells.repartition(*partition_cols)
    writer.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def ivf_index_write_frame(
    corpus: DataFrame,
    path: str,
    cents: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
    partition_cols: tuple[str, ...] = ("cell",),
) -> None:
    """:func:`ivf_index_write` with an explicit quantizer FRAME
    ``(cid, cent)`` — the production shape where the centroids come from
    a training step (k-means refinement) rather than fixed corpus ids.

    The quantizer is persisted FIRST and the corpus assignment runs
    against the read-back parquet: the cells are keyed by exactly the
    quantizer a later probe will read (no train-pipeline lineage, no
    recompute of an aggregation-derived centroid frame, no float drift —
    doubles round-trip parquet bit-exactly).

    ``meta_cols`` carries metadata columns (tenant, language, label …)
    through the assignment into the cell partitions; listing one of them
    in ``partition_cols`` (e.g. ``("cell", "label")``) makes it a second
    physical partition key, so a probe that equi-joins on it gets
    dynamic partition pruning on BOTH keys — the storage layout form of
    "filter inside the probed cells" (filtered vector search)."""
    cents.write.mode("overwrite").parquet(path + "/centroids")
    # read back with the written schema: footer inference would start a job
    persisted = (
        corpus.sparkSession.read.schema(cents.schema)
        .parquet(path + "/centroids")
        .select("cid", F.col("cent").alias("_cent"))
    )
    assigned = ivf_assign(
        corpus.select(corpus_id, *meta_cols, F.col(vec_col).alias("_v")),
        persisted,
        corpus_id,
        1,
    )
    _write_cells(
        _cells_frame(assigned, corpus_id, vec_col, meta_cols),
        path + "/cells",
        "overwrite",
        partition_cols,
    )


def ivf_index_append(
    spark,
    path: str,
    batch: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest into a persisted IVF index: assign ONLY the new
    batch against the PERSISTED quantizer (fresh parquet read — no
    lineage to the build run) and append its cell partitions.  The
    historical corpus is never re-read, re-assigned, or re-normed: the
    cost of an arrival is O(|batch| x k_centroids), independent of index
    size — the embedding twin of dedup_state_roundtrip's band append."""
    cents = spark.read.parquet(path + "/centroids").select(
        "cid", F.col("cent").alias("_cent")
    )
    assigned = ivf_assign(
        batch.select(corpus_id, F.col(vec_col).alias("_v")),
        cents,
        corpus_id,
        1,
    )
    _write_cells(_cells_frame(assigned, corpus_id, vec_col), path + "/cells", "append")


def ivf_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    cos_round: int = 6,
) -> DataFrame:
    """ANN top-k against a PERSISTED IVF index: queries are assigned to
    their ``nprobe`` nearest cells via the persisted quantizer, then
    joined (query side broadcast) against the cell-partitioned corpus on
    the partition column — Spark's dynamic partition pruning restricts
    the scan to the probed cells, and the write-time ``vnorm`` column
    means the corpus side contributes one dot product per candidate.
    Output matches :func:`ivf_topk`: (q_id, vec_id, cos, rank)."""
    cents = spark.read.parquet(path + "/centroids").select(
        "cid", F.col("cent").alias("_cent")
    )
    cells = spark.read.parquet(path + "/cells")
    q = ivf_assign(
        queries.select(query_id, F.col(vec_col).alias("_qv")),
        cents,
        query_id,
        nprobe,
        vec_col="_qv",
    ).withColumn("_qn", norm(F.col("_qv")))
    denom = F.col("vnorm") * F.col("_qn")
    cos = F.when(denom > 0, dot(F.col(vec_col), F.col("_qv")) / denom).otherwise(
        F.lit(0.0)
    )
    scored = cells.join(F.broadcast(q), "cell").withColumn(
        "cos", F.round(cos, cos_round)
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_ids: tuple[int, ...] = (0, 7, 14, 21, 28, 35, 42, 49),
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    cos_round: int = 6,
) -> DataFrame:
    """IVF-style ANN top-k: coarse quantization by nearest centroid, exact
    cosine only within probed cells.

    ``cos_round`` controls the rounding applied BEFORE ranking; coarser
    rounding (e.g. 4) makes rankings reproducible across engines whose
    floating sums differ in the last ulp — ties break by id either way.

    The coarse quantizer is deliberately training-free and fully
    declarative: centroids are corpus vectors at fixed ids (a deterministic
    sample — a k-means refinement would slot in identically), every vector
    is assigned to its nearest centroid by L2 (broadcast join + window
    argmin, ties by centroid id), and queries probe their ``nprobe``
    nearest cells. At 100 TB the corpus is written partitioned by
    ``cell``, so a query reads ``nprobe`` partitions — the IVF analogue of
    the hyperplane-LSH layout in :func:`lsh_topk`, trading LSH's
    oblivious buckets for data-adaptive cells.

    Distances are rounded to 6 decimals before ranking so the cell
    assignment is reproducible across engines (oracle replay).
    """
    cents = corpus.filter(F.col(corpus_id).isin(*centroid_ids)).select(
        F.col(corpus_id).alias("cid"), F.col(vec_col).alias("_cent")
    )
    c = ivf_assign(
        corpus.select(corpus_id, F.col(vec_col).alias("_v")), cents, corpus_id, 1
    )
    q = ivf_assign(
        queries.select(query_id, F.col(vec_col).alias("_v")), cents, query_id, nprobe
    )

    c = c.withColumn("_cn", norm(F.col("_v")))
    q = q.select(query_id, "cell", F.col("_v").alias("_qv"), norm(F.col("_v")).alias("_qn"))
    denom = F.col("_cn") * F.col("_qn")
    cos = F.when(denom > 0, dot(F.col("_v"), F.col("_qv")) / denom).otherwise(F.lit(0.0))
    scored = c.join(F.broadcast(q), "cell").withColumn("cos", F.round(cos, cos_round))
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Persistent IVF+PQ index — the faiss-IVFPQ layout actually STORED.
# ann_ivf_pq_topk (plans/ann.py) certified the in-query
# composition; the r11 scale ladder (SCALE_GROWTH.md "IVFPQ-vs-PQ
# ladder") measured that at 100x scale the codes must live CELL-KEYED
# NEXT TO the cell partitions (stored codes 2.5x over full ADC; a
# query-time cell join halves the advantage).  These operators execute
# that layout: codes are an 8-byte-per-vector projection of the
# persisted cells, partitioned by the same cell key, so a probe is a
# DPP-pruned integer code scan + a float rerank that reads ONLY the
# surviving candidates' vectors (again cell-pruned).
# ---------------------------------------------------------------------------


def pq_subspace_struct(vec_col, m: int, sub: int, out: str = "svec"):
    """``F.inline``-able array of (j, sub-vector) structs: the m x sub
    split of a vec_col, 1-based slices, j = 0..m-1."""
    return F.array(*[
        F.struct(
            F.lit(j).alias("j"),
            F.slice(vec_col, j * sub + 1, sub).alias(out),
        )
        for j in range(m)
    ])


def l2sq_micro(a, b):
    """MICRO-unit squared L2 between two slices as an exact bigint
    (round(l2sq * 1e6)) — the ADC integer discipline of
    ann_pq_adc_topk: integer sums are bit-identical on any engine
    regardless of addition order."""
    diffs = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    s = F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d * d)
    return F.round(s * 1_000_000.0, 0).cast("bigint")


def pq_encode(
    df: DataFrame,
    cb: DataFrame,
    id_col: str,
    m: int,
    sub: int,
    vec_col: str = "_v",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization encode: each vector of ``df`` becomes an
    m-entry ``codes`` array (nearest codebook entry per subspace, ties
    by codebook id — the min_by convention of ann_pq_adc_topk).
    ``cb`` is the codebook frame (c, j, cvec), broadcast (m x 16 rows).
    Output: (id_col, *carry_cols, codes array<int> ordered by j).

    Write-time cost: one x m explode, a broadcast join, and two partial
    aggregates (min_by per (id, j), collect per id) — never a window,
    never a shuffle wider than the id key."""
    sliced = df.select(id_col, *carry_cols, F.inline(pq_subspace_struct(F.col(vec_col), m, sub)))
    enc = (
        sliced.join(F.broadcast(cb), "j")
        .select(
            id_col, *carry_cols, "j", "c",
            l2sq_micro(F.col("svec"), F.col("cvec")).alias("_d"),
        )
        .groupBy(id_col, *carry_cols, "j")
        .agg(F.min_by("c", F.struct("_d", "c")).alias("code"))
    )
    return enc.groupBy(id_col, *carry_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "code"))),
            lambda x: x["code"].cast("int"),
        ).alias("codes")
    )


def _run_concurrent(*thunks) -> None:
    """Run independent write jobs from a small driver thread pool (guide
    §2.6): actions are only sequential because driver code calls them
    sequentially, so two writes with no data dependency overlap — the
    second job's tasks back-fill executors freed by the first job's tail.
    Raises the first failure after all complete (no silent partial
    builds)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in futures:
            f.result()


def ivf_pq_index_write_frame(
    corpus: DataFrame,
    path: str,
    cents: DataFrame,
    cb: DataFrame,
    m: int,
    sub: int,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and PERSIST the IVF+PQ index: four tables under ``path`` —
    ``centroids`` (the coarse quantizer), ``codebook`` (c, j, cvec; the
    m x 16 PQ codebook), ``cells`` (cell-partitioned vectors + norms,
    exactly :func:`ivf_index_write_frame`), and ``codes`` (cell, id,
    codes array) — partitioned by THE SAME cell key, the layout the r11
    IVFPQ-vs-PQ ladder measured as the only viable 100 TB shape.

    The corpus is assigned ONCE against the persisted quantizer and the
    materialized assignment feeds BOTH the cells and the codes writes —
    the shape :func:`ivf_pq_index_append` already has (r13; the original
    wrote cells, then re-read them to encode: one extra full scan of the
    index plus a serializing dependency between the two writes).  Cells
    and codes remain projections of the SAME assignment by construction,
    and parquet round-trips doubles bit-exactly, so the persisted bytes
    are identical to the read-back formulation.  The two quantizer-table
    writes, and then the cells/codes writes, are independent jobs and run
    overlapped (guide §2.6).

    Cluster caveat (applies to the append too): ``localCheckpoint`` is
    eager and LINEAGE-FREE — on a real cluster an executor loss while the
    writes run fails the job non-recoverably (re-run the build; writes
    are idempotent overwrite).  Checkpoint to reliable storage instead if
    the build is long enough for that to matter."""
    spark = corpus.sparkSession
    _run_concurrent(
        lambda: cb.write.mode("overwrite").parquet(path + "/codebook"),
        lambda: cents.write.mode("overwrite").parquet(path + "/centroids"),
    )
    # read back with the written schemas: footer inference would start a job
    persisted = (
        spark.read.schema(cents.schema)
        .parquet(path + "/centroids")
        .select("cid", F.col("cent").alias("_cent"))
    )
    assigned = ivf_assign(
        corpus.select(corpus_id, F.col(vec_col).alias("_v")),
        persisted,
        corpus_id,
        1,
    ).localCheckpoint()
    cbp = spark.read.schema(cb.schema).parquet(path + "/codebook")
    _run_concurrent(
        lambda: _write_cells(
            _cells_frame(assigned, corpus_id, vec_col), path + "/cells", "overwrite"
        ),
        lambda: _write_cells(
            pq_encode(assigned, cbp, corpus_id, m, sub, carry_cols=("cell",)).select(
                "cell", corpus_id, "codes"
            ),
            path + "/codes",
            "overwrite",
        ),
    )


def ivf_pq_index_append(
    spark,
    path: str,
    batch: DataFrame,
    m: int,
    sub: int,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest into a persisted IVF+PQ index: ONLY the new
    batch is assigned (persisted quantizer) and encoded (persisted
    codebook); its cell partitions are appended to both ``cells`` and
    ``codes``.  The historical corpus is never re-read, re-assigned,
    re-normed, or re-encoded — arrival cost is
    O(|batch| x (k_centroids + m x 16)), independent of index size.

    The batch is assigned ONCE and the materialized assignment feeds both
    appends (r12: the original composed :func:`ivf_index_append` + a second
    assign for the codes, recomputing the quantizer join per table — the
    checkpoint halves the per-arrival assignment cost and guarantees cells
    and codes are projections of the SAME assignment by construction).

    The two appends run one after another, cells first, so codes stay a
    subset of cells whichever append fails: the probe ranks codes and
    reranks from cells, and never meets a code without its vector.  A
    failed codes append leaves the batch in cells without codes; the
    repair path is to re-derive the missing codes from the cells table
    (the codes are a pure projection of it).

    Cluster caveat: ``localCheckpoint`` is eager and lineage-free (an
    executor loss mid-append fails the job; re-ingest the batch)."""
    cbp = spark.read.parquet(path + "/codebook")
    cents = spark.read.parquet(path + "/centroids").select(
        "cid", F.col("cent").alias("_cent")
    )
    assigned = ivf_assign(
        batch.select(corpus_id, F.col(vec_col).alias("_v")),
        cents,
        corpus_id,
        1,
    ).localCheckpoint()
    _write_cells(_cells_frame(assigned, corpus_id, vec_col), path + "/cells", "append")
    _write_cells(
        pq_encode(assigned, cbp, corpus_id, m, sub, carry_cols=("cell",)).select(
            "cell", corpus_id, "codes"
        ),
        path + "/codes",
        "append",
    )


def ivf_pq_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    m: int,
    sub: int,
    k: int = 5,
    nprobe: int = 2,
    cand: int = 20,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    cos_round: int = 6,
) -> DataFrame:
    """ANN top-k against a PERSISTED IVF+PQ index — the probe the 100 TB
    economics are built around, touching float vectors only for the
    final ``cand`` survivors per query:

    1. queries multi-probe their ``nprobe`` nearest cells via the
       persisted quantizer (the guarded :func:`ivf_assign` device);
    2. a per-query integer LUT (m x 16 MICRO-unit bigints vs the
       persisted codebook) is joined with the probe cells into a tiny
       broadcast frame (|Q| x nprobe x m x 16 rows);
    3. the ``codes`` table — 8 bytes/vector, partitioned by cell — is
       scanned WITH dynamic partition pruning from the broadcast join on
       the cell key; posexplode + LUT lookup + an integer sum per
       (query, vector) is the whole ADC scan;
    4. the top ``cand`` ADC candidates per query are reranked by exact
       cosine, reading ONLY their rows from ``cells`` via a broadcast
       join that again prunes on the cell partition key and reuses the
       write-time ``vnorm``.

    Output matches :func:`ivf_index_probe`: (q_id, vec_id, cos, rank)."""
    cents = spark.read.parquet(path + "/centroids").select(
        "cid", F.col("cent").alias("_cent")
    )
    cbp = spark.read.parquet(path + "/codebook")
    qa = ivf_assign(
        queries.select(query_id, F.col(vec_col).alias("_qv")),
        cents,
        query_id,
        nprobe,
        vec_col="_qv",
    )
    # per-query integer LUT against the persisted codebook, then keyed by
    # the probe cells — one broadcast frame drives both the DPP cell
    # pruning and the (j, code) lookup
    qsub = queries.select(
        query_id, F.inline(pq_subspace_struct(F.col(vec_col), m, sub, out="qsvec"))
    )
    lut = qsub.join(F.broadcast(cbp), "j").select(
        query_id, "j", "c", l2sq_micro(F.col("qsvec"), F.col("cvec")).alias("dsq")
    )
    lutq = lut.join(F.broadcast(qa.select(query_id, "cell")), query_id)
    codes = spark.read.parquet(path + "/codes")
    exploded = codes.select(
        "cell", corpus_id, F.posexplode("codes").alias("j", "code")
    )
    adc = (
        exploded.join(
            F.broadcast(lutq),
            ["cell", "j"],
        )
        .filter(F.col("code") == F.col("c"))
        .groupBy(query_id, "cell", corpus_id)
        .agg(F.sum("dsq").alias("adc"))
    )
    w_a = Window.partitionBy(query_id).orderBy(F.asc("adc"), F.asc(corpus_id))
    cands = (
        adc.withColumn("_r", F.row_number().over(w_a))
        .filter(F.col("_r") <= cand)
        .select(query_id, "cell", corpus_id)
    )
    # exact rerank: vectors read ONLY for the candidates, cell-pruned
    cells = spark.read.parquet(path + "/cells")
    qv = queries.select(
        query_id, F.col(vec_col).alias("_qv2"), norm(F.col(vec_col)).alias("_qn")
    )
    survivors = cells.join(F.broadcast(cands), ["cell", corpus_id]).join(
        F.broadcast(qv), query_id
    )
    denom = F.col("vnorm") * F.col("_qn")
    cos = F.when(denom > 0, dot(F.col(vec_col), F.col("_qv2")) / denom).otherwise(
        F.lit(0.0)
    )
    w_r = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(corpus_id))
    return (
        survivors.withColumn("cos", F.round(cos, cos_round))
        .withColumn("rank", F.row_number().over(w_r).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )
