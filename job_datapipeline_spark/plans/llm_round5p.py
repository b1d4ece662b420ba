"""Round-5 sixteenth batch: MMR diverse re-ranking, duplicate-invoice
detection, repeat-purchase rate.

Three more named operators:

- MMR (Maximal Marginal Relevance) diverse top-k re-ranking — the
  retrieval-diversification pass every RAG stack runs between ANN
  recall and the prompt: fetch a candidate pool by relevance, then
  GREEDILY select k items maximizing relevance MINUS the max
  similarity to anything already selected (lambda = 1/2, where the
  two weights cancel into an integer difference). The greedy loop is
  a k-step LEFT FOLD whose accumulator is the selected-id list; every
  relevance and pairwise similarity is an EXACT quantized bigint dot
  product, so the argmax at each step (max over (score, -id) structs)
  is integer-deterministic and both engines replay the identical
  selection.
- Duplicate-invoice detection — the classic AP fraud/data-bug screen:
  pairs of orders by the SAME customer for the SAME exact amount
  within 7 days. The blocking key (custkey, cents) bounds the
  self-join exactly the way every record-linkage blocker does.
- Repeat-purchase rate per brand: of (customer, part) pairs with at
  least one order, the share ordered in 2+ DISTINCT orders — the
  retention metric for products; exact distinct counting, one
  division per brand at the end.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): dot products,
scores, counts and cents are exact bigints; each reported ratio is a
single rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# MMR diverse top-k
# ---------------------------------------------------------------------------

_MMR_POOL = 12  # candidate pool from the relevance pass
_MMR_K = 5  # diverse picks


@register(
    "ann_mmr_diverse_topk",
    oracle=f"""
    WITH mn AS (SELECT min(vec_id) AS qid FROM embeddings),
    q AS (
        SELECT list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS qv
        FROM embeddings, mn WHERE vec_id = mn.qid
    ),
    vecs AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS vv
        FROM embeddings, mn WHERE vec_id <> mn.qid
    ),
    rel AS (
        SELECT vec_id, vv,
               CAST(list_sum(list_transform(list_zip(vv, q.qv),
                                            s -> s[1] * s[2])) AS BIGINT)
                   AS rel
        FROM vecs, q
    ),
    pool AS (
        SELECT vec_id, vv, rel,
               row_number() OVER (ORDER BY rel DESC, vec_id) AS idx
        FROM rel
        ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
    ),
    sims AS (
        SELECT a.idx AS i,
               list(CAST(list_sum(list_transform(list_zip(a.vv, b.vv),
                                                 s -> s[1] * s[2]))
                         AS BIGINT) ORDER BY b.idx) AS srow
        FROM pool a, pool b
        GROUP BY a.idx
    ),
    cands AS (
        SELECT list(struct_pack(idx := CAST(p.idx AS BIGINT),
                                rel := p.rel,
                                sims := s.srow) ORDER BY p.idx) AS cl
        FROM pool p JOIN sims s ON s.i = p.idx
    ),
    folded AS (
        SELECT cl,
               list_reduce(
                   [CAST([] AS BIGINT[]){(", []" * _MMR_K)}],
                   (acc, x) -> list_append(acc,
                       -struct_extract(list_max(list_transform(
                           list_filter(cl, c -> NOT list_contains(acc,
                                                                  c.idx)),
                           c -> struct_pack(
                               score := c.rel - coalesce(
                                   list_max(list_transform(acc,
                                       j -> c.sims[CAST(j AS INT)])),
                                   CAST(0 AS BIGINT)),
                               negidx := -c.idx))), 'negidx'))) AS sel
        FROM cands
    )
    SELECT CAST(t AS BIGINT) AS rank,
           p.vec_id, p.rel AS rel_micro2,
           CAST(p.idx AS BIGINT) AS pool_idx
    FROM (SELECT sel, unnest(generate_series(1, len(sel))) AS t
          FROM folded) u
    JOIN pool p ON p.idx = u.sel[u.t]
    ORDER BY rank
    """,
    doc=f"MMR diverse top-{_MMR_K} re-ranking over a {_MMR_POOL}-"
        "candidate relevance pool (query = the lowest vec_id; pool = "
        "top dot products with a vec_id tiebreak) — the retrieval-"
        "diversification pass every RAG stack runs between ANN recall "
        "and the prompt, here with lambda = 1/2 so MMR's two weights "
        "cancel into the INTEGER objective rel(i) - max_sim(i, "
        "selected). The greedy loop is a k-step left fold (Spark "
        "F.aggregate over a sequence; oracle list_reduce with a "
        "prepended typed-empty-list init) whose accumulator is the "
        "selected-id list; at each step the argmax is an array_max "
        "over (score, -idx) structs — exact quantized-bigint dot "
        "products everywhere, so both engines replay the identical "
        "greedy trajectory bit-for-bit. The 100 TB shape: the "
        "expensive part is the RELEVANCE pass, which is the existing "
        "ANN family's scan (brute/LSH/IVF all slot in); the MMR fold "
        "touches only the k x pool similarity matrix — constant-size "
        "state that lives comfortably in one task, per query, for "
        "thousands of concurrent queries (group the fold by query "
        "id).",
)
def ann_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    quant = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
        ).alias("vv"),
    ).localCheckpoint()  # feeds the query row AND the corpus side
    qid = quant.agg(F.min("vec_id").alias("qid"))
    q = (
        quant.join(F.broadcast(qid), quant.vec_id == qid.qid)
        .select(F.col("vv").alias("qv"))
    )
    rel = (
        quant.join(F.broadcast(qid), quant.vec_id == qid.qid, "anti")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "vv",
            F.aggregate(
                F.zip_with("vv", "qv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("rel"),
        )
    )
    pool = (
        rel.orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy(F.col("rel").desc(), "vec_id")),
        )
        .localCheckpoint()  # feeds sims (twice) AND the final join
    )
    a = pool.select(F.col("idx").alias("i"), F.col("vv").alias("va"))
    b = pool.select(F.col("idx").alias("j"), F.col("vv").alias("vb"))
    sims = (
        a.crossJoin(b)
        .select(
            "i",
            "j",
            F.aggregate(
                F.zip_with("va", "vb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("sim"),
        )
        .groupBy("i")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "sim"))),
                lambda s: s["sim"],
            ).alias("srow")
        )
    )
    cands = (
        pool.join(sims, pool.idx == sims.i)
        .select(
            F.struct(
                F.col("idx").cast("bigint").alias("idx"),
                F.col("rel").alias("rel"),
                F.col("srow").alias("sims"),
            ).alias("c")
        )
        .agg(F.array_sort(F.collect_list("c")).alias("cl"))
    )
    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MMR_K)),
        F.array().cast("array<long>"),
        lambda acc, _x: F.array_append(
            acc,
            -F.array_max(
                F.transform(
                    F.filter(
                        F.col("cl"), lambda c: ~F.array_contains(acc, c["idx"])
                    ),
                    lambda c: F.struct(
                        (
                            c["rel"]
                            - F.coalesce(
                                F.array_max(
                                    F.transform(
                                        acc,
                                        lambda j: F.element_at(
                                            c["sims"], j.cast("int")
                                        ),
                                    )
                                ),
                                F.lit(0).cast("long"),
                            )
                        ).alias("score"),
                        (-c["idx"]).alias("negidx"),
                    ),
                )
            )["negidx"],
        ),
    )
    folded = cands.select(sel.alias("sel"))
    ranked = folded.select(
        F.posexplode("sel").alias("rank0", "pidx")
    ).select((F.col("rank0") + 1).cast("bigint").alias("rank"), "pidx")
    return (
        ranked.join(F.broadcast(pool), ranked.pidx == pool.idx)
        .select(
            "rank",
            "vec_id",
            F.col("rel").alias("rel_micro2"),
            F.col("idx").cast("bigint").alias("pool_idx"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Duplicate-invoice detection
# ---------------------------------------------------------------------------

_DUPINV_WINDOW_DAYS = 30
_DUPINV_BAND = 10_000  # whole-dollar amount band for blocking


@register(
    "orders_duplicate_invoices",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice) AS BIGINT) AS dollars,
               CAST(round(o_totalprice) AS BIGINT) // {_DUPINV_BAND} AS band,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.dollars AS dollars_a, b.dollars AS dollars_b,
           CAST(abs(date_diff('day', a.d, b.d)) AS BIGINT) AS day_gap
    FROM keyed a JOIN keyed b
      ON a.o_custkey = b.o_custkey AND a.band = b.band
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', a.d, b.d)) <= {_DUPINV_WINDOW_DAYS}
    ORDER BY custkey, order_a, order_b
    """,
    doc="Duplicate-invoice screen — the accounts-payable fraud / "
        "double-submission candidate pass: pairs of orders by the "
        f"SAME customer in the SAME \\${_DUPINV_BAND:,} amount band "
        f"within {_DUPINV_WINDOW_DAYS} days (exact whole dollars from "
        "cents, never float compares). The self-join blocks on "
        "(custkey, band) — the record-linkage BLOCKING device: "
        "candidate pairs are bounded by per-key group sizes "
        "(quadratic only within a key), never |orders|^2; the date "
        "window filters candidates, not the other way around. Banding "
        "has the standard blocking blind spot — a pair straddling a "
        "band edge is missed — and the standard fix: a second pass "
        "with the bands OFFSET by half a width catches every pair "
        "within band/2, at exactly 2x cost (this query is pass one; "
        "the offset pass is the same plan with band shifted). The "
        "100 TB shape: one shuffle hash-partitions both sides by the "
        "composite key (self-join co-locates for free); a hot key "
        "means one customer flooding one amount band — itself the "
        "fraud signal, and salt-able like any skewed key.",
)
def orders_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    dollars = F.round(F.col("o_totalprice")).cast("bigint")
    keyed = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        dollars.alias("dollars"),
        F.floor(dollars / _DUPINV_BAND).cast("bigint").alias("band"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = keyed.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_a"),
        F.col("dollars").alias("dollars_a"),
        "band",
        F.col("d").alias("da"),
    )
    b = keyed.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_b"),
        F.col("dollars").alias("dollars_b"),
        F.col("band").alias("band_b"),
        F.col("d").alias("db"),
    )
    return (
        a.join(
            b,
            (a.custkey == b.custkey)
            & (a.band == b.band_b)
            & (a.order_a < b.order_b),
        )
        .filter(
            F.abs(F.datediff(F.col("db"), F.col("da"))) <= _DUPINV_WINDOW_DAYS
        )
        .select(
            a.custkey.alias("custkey"),
            "order_a",
            "order_b",
            "dollars_a",
            "dollars_b",
            F.abs(F.datediff(F.col("db"), F.col("da")))
            .cast("bigint")
            .alias("day_gap"),
        )
        .orderBy("custkey", "order_a", "order_b")
    )


# ---------------------------------------------------------------------------
# Repeat-purchase rate
# ---------------------------------------------------------------------------


@register(
    "part_reorder_rate",
    oracle="""
    WITH pairs AS (
        SELECT l.l_partkey, o.o_custkey,
               CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    )
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (WHERE pr.n_orders >= 2) AS BIGINT)
               AS n_repeat,
           CAST(round(1000000.0
                      * count(*) FILTER (WHERE pr.n_orders >= 2)
                      / count(*)) AS BIGINT) AS reorder_rate_micro,
           CAST(sum(pr.n_orders) AS BIGINT) AS total_orders
    FROM pairs pr JOIN part p ON p.p_partkey = pr.l_partkey
    GROUP BY 1 ORDER BY brand
    """,
    doc="Repeat-purchase rate per brand: of the (customer, part) "
        "pairs that ever ordered, the share that ordered in 2+ "
        "DISTINCT orders — the product-retention metric behind "
        "replenishment and subscription candidates. The heavy "
        "aggregate is the (part, customer) distinct-order count: a "
        "fact-to-fact join on the co-partitioned orderkey (the S10 "
        "bucketing layout) followed by one partial-aggregatable "
        "groupBy; the brand rollup then joins the part DIM broadcast-"
        "side and reduces counts with FILTER (both counts in the same "
        "pass) — one rounded division per brand at the very end. The "
        "100 TB shape: nothing driver-side, distinct-order counting "
        "collapses map-side within (part, cust) partitions, and the "
        "pair frame is bounded by live customer x assortment, not raw "
        "line items.",
)
def part_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_partkey", "o_custkey")
        .agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    )
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repeat"),
            F.round(
                F.lit(1_000_000.0)
                * F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
                / F.count("*")
            )
            .cast("bigint")
            .alias("reorder_rate_micro"),
            F.sum("n_orders").cast("bigint").alias("total_orders"),
        )
        .orderBy("brand")
    )
