"""Round-6 third batch: PCA power iteration over embeddings, iterative
BPE merge learning over the corpus.

Two more iterative operators under the exact-replay discipline:

- Top principal component of the (quantized) embedding Gram matrix by
  POWER ITERATION: three matvec+normalize rounds, every matvec an
  exact integer/decimal accumulation, every normalization a
  deterministic ORDER-PINNED fold (the 16 components are folded in
  index order on both engines, so even the float norm is
  bit-identical), each round's vector re-quantized to micro — the
  embedding-space health check (dominant direction + eigenvalue)
  behind isotropy/anisotropy audits, and the building block of
  spectral methods generally.
- BPE merge learning, the REAL iterative loop (tokenizer_bpe_pairs
  counts pairs once; this LEARNS): four rounds of count-all-adjacent-
  symbol-pairs -> pick the most frequent (ties pinned) -> merge it
  everywhere.  The merge step is a single literal string replacement
  over a delimiter-embedded symbol string ("h<US>e<US>..."), which
  both engines apply greedily left-to-right non-overlapping — exactly
  BPE's merge semantics — with zero UDFs.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline (plans/queries.py header): Gram cells,
pair counts and merge picks are exact integers; the ONLY floats are
the per-round norm (an order-pinned fold) and the per-component
division, each rounded once to micro.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# PCA power iteration
# ---------------------------------------------------------------------------

_PCA_DIMS = 16
_PCA_ITERS = 3
_PCA_V0 = 250_000  # ones/sqrt(16) in micro units: exact unit-norm init


def _pca_oracle() -> str:
    parts = [f"""
    WITH q AS (
        SELECT list_transform(embedding[1:{_PCA_DIMS}],
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS qv
        FROM embeddings
    ),
    idx AS (
        SELECT i.i AS i, j.j AS j
        FROM generate_series(1, {_PCA_DIMS}) i(i),
             generate_series(1, {_PCA_DIMS}) j(j)
    ),
    gram AS (
        SELECT i, j, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS g
        FROM q CROSS JOIN idx GROUP BY i, j
    ),
    v0 AS (
        SELECT i.i AS i, CAST({_PCA_V0} AS BIGINT) AS vm
        FROM generate_series(1, {_PCA_DIMS}) i(i)
    )"""]
    for k in range(1, _PCA_ITERS + 1):
        parts.append(f"""
    , w{k} AS (
        SELECT g.i AS i,
               -- HUGEINT: |g| <= ~5e15, |vm| <= ~1e6 -> terms to ~5e21
               sum(CAST(g.g AS HUGEINT) * v.vm) AS w
        FROM gram g JOIN v{k - 1} v ON v.i = g.j
        GROUP BY g.i
    ),
    n{k} AS (
        -- order-pinned fold: components squared and summed in index
        -- order, so the double norm is bit-identical on any engine
        SELECT sqrt(list_reduce(
                   list_prepend(0.0, list(CAST(w AS DOUBLE) ORDER BY i)),
                   (acc, x) -> acc + x * x)) AS nrm
        FROM w{k}
    ),
    v{k} AS (
        SELECT w.i AS i,
               CAST(round(1000000.0 * CAST(w.w AS DOUBLE) / n.nrm)
                    AS BIGINT) AS vm
        FROM w{k} w CROSS JOIN n{k} n
    )""")
    parts.append(f"""
    SELECT CAST(v.i AS BIGINT) AS i,
           v.vm AS loading_micro,
           CAST(round(n.nrm / 1000000000000.0) AS BIGINT) AS eigval_micro
    FROM v{_PCA_ITERS} v CROSS JOIN n{_PCA_ITERS} n
    ORDER BY i""")
    return "\n".join(parts)


@register(
    "embedding_pca_power_iteration",
    oracle=_pca_oracle(),
    doc=f"Top principal component of the embedding Gram matrix "
        f"(first {_PCA_DIMS} dims, micro-quantized — the "
        f"embedding_gram_matrix device) by {_PCA_ITERS} power-iteration "
        "rounds from the exact ones/4 unit init: each matvec "
        "accumulates g*v products exactly (decimal(38,0) / HUGEINT — "
        "terms reach ~5e21), each norm is sqrt of an ORDER-PINNED fold "
        "over the 16 components (F.aggregate in index order == "
        "DuckDB list_reduce over the index-ordered list, so the double "
        "is bit-identical), and each round re-quantizes the vector to "
        "micro — the trajectory replays exactly on any engine/"
        "partitioning. Output: the 16 loadings plus the eigenvalue "
        "estimate ||G v||/||v|| in micro. This is the dominant-"
        "direction audit behind anisotropy findings (a large top "
        "eigenvalue share = embeddings collapse toward one direction; "
        "companion to embedding_isotropy_report) and the first step of "
        "spectral clustering / PCA whitening. The 100 TB shape: ONE "
        "corpus-scale stage (the Gram partial-combining aggregate, "
        "dim^2-cell output); every iteration after runs on dim- and "
        "dim^2-row frames — power iteration at scale is gram-once, "
        "iterate-small.",
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            F.slice("embedding", 1, _PCA_DIMS),
            lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
        ).alias("qv")
    )
    idx = (
        spark.range(1, _PCA_DIMS + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(1, _PCA_DIMS + 1).select(F.col("id").alias("j")))
    )
    gram = (
        q.crossJoin(F.broadcast(idx))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.element_at("qv", F.col("i").cast("int"))
                * F.element_at("qv", F.col("j").cast("int"))
            )
            .cast("bigint")
            .alias("g")
        )
        .localCheckpoint()  # scanned once per iteration
    )
    v = spark.range(1, _PCA_DIMS + 1).select(
        F.col("id").alias("i"), F.lit(_PCA_V0).cast("long").alias("vm")
    )
    nrm_frame = None
    for _ in range(_PCA_ITERS):
        w = (
            gram.join(v.select(F.col("i").alias("j"), "vm"), "j")
            .groupBy("i")
            .agg(
                # widen BEFORE multiplying: |g| grows with corpus size and
                # g*vm exceeds int64 (~5e21 at sf0.1) — casting the
                # PRODUCT would overflow in long first (the round-5 EM
                # lesson, caught again here by the sf0.1 sweep)
                F.sum(F.col("g").cast("decimal(38,0)") * F.col("vm")).alias(
                    "wd"
                )
            )
            .select("i", F.col("wd").cast("double").alias("w"))
            .localCheckpoint()
        )
        nrm_frame = w.groupBy().agg(
            F.sqrt(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("i", "w"))
                    ).cast("array<struct<i:long,w:double>>"),
                    F.lit(0.0),
                    lambda acc, s: acc + s["w"] * s["w"],
                )
            ).alias("nrm")
        )
        v = (
            w.crossJoin(F.broadcast(nrm_frame))
            .select(
                "i",
                F.round(F.lit(1_000_000.0) * F.col("w") / F.col("nrm"))
                .cast("bigint")
                .alias("vm"),
            )
            .localCheckpoint()
        )
    return (
        v.crossJoin(F.broadcast(nrm_frame))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("vm").alias("loading_micro"),
            F.round(F.col("nrm") / F.lit(1_000_000_000_000.0))
            .cast("bigint")
            .alias("eigval_micro"),
        )
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# BPE merge learning
# ---------------------------------------------------------------------------

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
