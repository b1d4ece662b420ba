"""Round-5 fifteenth batch: RAKE keyphrases, Z-order tiles, scan
provenance audit, next-fit compaction planner.

Four more named operators:

- RAKE keyphrase extraction: stopword-delimited candidate phrases via
  the gaps-and-islands device (island id = position - row_number over
  non-stopword tokens), per-document word degree/frequency scores,
  phrase score as the INTEGER sum of member-word micro scores (each
  word ratio rounded once, then summed exactly — no float
  accumulation across words), top phrase per document.
- Z-order (Morton) tile statistics: the space-filling-curve layout
  key behind Delta/Iceberg Z-ORDER data skipping — 8+8-bit
  interleave of customer bucket x month bucket built from pure
  integer bit ops, then per-tile min/max "skipping stats" that show
  what a zordered writer would hand the scan planner.
- Scan provenance audit: write orders partitioned by priority, read
  the files BACK with the engine's file-provenance pseudo-column
  (input_file_name / filename=true), parse the partition value out
  of the physical path, and certify that every row landed in the
  directory its column value dictates (count + key range per
  partition, path-vs-column match pinned true).
- Next-fit compaction planner: the small-file bin packer every
  lakehouse maintenance job runs — items (partition, month, size)
  stream in layout order through a NEXT-FIT fold (bin += 1 when the
  current bin would overflow), state packed into one bigint so both
  engines replay the identical integer fold; capacity derives from
  the item-size average so the plan is scale-invariant.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): degrees,
frequencies, morton codes, sizes and fills are exact bigints; the
only divisions are per-word score quantization (rounded once, then
integer-summed) and display ratios.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.text import tokenize
from .queries import _scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# RAKE keyphrases
# ---------------------------------------------------------------------------

_RAKE_STOPWORDS = (
    "the a an and or of to in on for with is are was be as at by it this "
    "that from its not has have had but their they we you he she his her"
).split()

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPWORDS)


@register(
    "text_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, l[i] AS tok, i AS pos FROM (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS l,
                   unnest(generate_series(1, len(string_split_regex(
                       trim(lower(text)), '\\s+')))) AS i
            FROM documents) u
    ),
    content AS (
        SELECT doc_id, tok, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS rid
        FROM toks WHERE tok NOT IN ({_RAKE_STOP_SQL})
    ),
    phrases AS (
        SELECT doc_id, rid,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               CAST(count(*) AS BIGINT) AS n_words
        FROM content GROUP BY doc_id, rid
    ),
    occurrences AS (
        SELECT c.doc_id, c.tok, c.rid, p.n_words
        FROM content c JOIN phrases p
          ON p.doc_id = c.doc_id AND p.rid = c.rid
    ),
    word_scores AS (
        SELECT doc_id, tok,
               CAST(round(1000000.0 * sum(n_words) / count(*)) AS BIGINT)
                   AS w_micro
        FROM occurrences GROUP BY doc_id, tok
    ),
    phrase_scores AS (
        SELECT o.doc_id, o.rid,
               CAST(sum(w.w_micro) AS BIGINT) AS score_micro
        FROM occurrences o JOIN word_scores w
          ON w.doc_id = o.doc_id AND w.tok = o.tok
        GROUP BY o.doc_id, o.rid
    )
    SELECT doc_id, phrase, n_words, score_micro FROM (
        SELECT p.doc_id, p.phrase, p.n_words, s.score_micro,
               row_number() OVER (PARTITION BY p.doc_id
                                  ORDER BY s.score_micro DESC, p.phrase)
                   AS rk
        FROM phrases p JOIN phrase_scores s
          ON s.doc_id = p.doc_id AND s.rid = p.rid) x
    WHERE rk = 1
    ORDER BY doc_id
    """,
    doc="RAKE keyphrase extraction — the classic unsupervised "
        "keyword pass: candidate phrases are maximal stopword-free "
        "token runs found with the gaps-and-islands device (island id "
        "= position - row_number over content tokens; one window, no "
        "self-join); word score = degree/frequency where degree sums "
        "the lengths of phrases each occurrence sits in; phrase score "
        "= sum of member-word scores. Determinism: each word ratio "
        "quantizes to micro ONCE, phrase scores then accumulate as "
        "EXACT integer sums, and the per-doc top phrase breaks ties "
        "on the phrase string. The 100 TB shape: everything is keyed "
        "by doc_id — tokenize/island/phrase/degree stages all "
        "partial-aggregate or window within the document partition, "
        "so the corpus parallelizes embarrassingly across docs with "
        "ONE shuffle onto doc_id; the stopword list is a literal "
        "in-plan IN filter (a broadcast lookup at vocabulary scale).",
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokenize(F.col("text"))).alias("pos0", "tok"),
    ).select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    content = (
        toks.filter(~F.col("tok").isin(_RAKE_STOPWORDS))
        .withColumn(
            "rid",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
        .localCheckpoint()  # feeds phrases AND occurrences
    )
    phrases = content.groupBy("doc_id", "rid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("n_words"),
    )
    occurrences = content.join(
        phrases.select("doc_id", "rid", "n_words"), ["doc_id", "rid"]
    ).select("doc_id", "tok", "rid", "n_words")
    word_scores = occurrences.groupBy("doc_id", "tok").agg(
        F.round(F.lit(1_000_000.0) * F.sum("n_words") / F.count("*"))
        .cast("bigint")
        .alias("w_micro")
    )
    phrase_scores = (
        occurrences.join(word_scores, ["doc_id", "tok"])
        .groupBy("doc_id", "rid")
        .agg(F.sum("w_micro").cast("bigint").alias("score_micro"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("phrase")
    )
    return (
        phrases.join(phrase_scores, ["doc_id", "rid"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "phrase", "n_words", "score_micro")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Z-order tiles
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension -> 16-bit morton code
_Z_TILE_SHIFT = 8  # tile = morton >> 8 -> 256 tiles


def _morton_sql(xe: str, ye: str) -> str:
    # each term fully parenthesized: SQL '+' binds tighter than '<<'
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"(((({xe}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({ye}) >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


def _morton_col(x, y):
    acc = F.lit(0)
    for b in range(_Z_BITS):
        acc = acc + F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b)
        acc = acc + F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
    return acc


@register(
    "layout_zorder_tiles",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey,
               o_orderdate,
               CAST(o_custkey % 256 AS BIGINT) AS xb,
               CAST(((year(o_orderdate) - 1995) * 12
                     + (month(o_orderdate) - 1)) % 256 AS BIGINT) AS yb
        FROM orders
    ),
    coded AS (
        SELECT o_orderkey, o_orderdate,
               CAST({_morton_sql('xb', 'yb')} AS BIGINT) AS morton
        FROM keyed
    )
    SELECT CAST(morton >> {_Z_TILE_SHIFT} AS BIGINT) AS tile,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(morton) AS BIGINT) AS min_morton,
           CAST(max(morton) AS BIGINT) AS max_morton,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey,
           CAST(min(o_orderdate) AS VARCHAR) AS min_date,
           CAST(max(o_orderdate) AS VARCHAR) AS max_date
    FROM coded
    GROUP BY 1 ORDER BY tile
    """,
    doc="Z-order (Morton) tile statistics — the space-filling-curve "
        "layout pass behind Delta/Iceberg Z-ORDER: interleave the "
        f"low {_Z_BITS} bits of the customer bucket with the low "
        f"{_Z_BITS} bits of the month bucket (pure integer shift/and/"
        "or — bit-identical on any engine), split the curve into "
        f"2^{_Z_TILE_SHIFT} tiles, and emit per-tile min/max skipping "
        "stats for BOTH dimensions' carriers (key range, date range). "
        "The point of the curve: a range predicate on EITHER "
        "dimension prunes most tiles because interleaving keeps both "
        "coordinates locally clustered — these min/max rows are "
        "exactly the footer stats a zordered writer hands the scan "
        "planner, so the query doubles as the layout-quality report "
        "(tight ranges = good clustering). The 100 TB shape: the "
        "morton code is a map-side expression; one partial-"
        "aggregatable groupBy onto the fixed 256-tile frame; at write "
        "time the same code becomes repartitionByRange(morton) and "
        "costs one range shuffle.",
)
def layout_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        "o_orderdate",
        (F.col("o_custkey") % 256).cast("bigint").alias("xb"),
        (
            ((F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1))
            % 256
        )
        .cast("bigint")
        .alias("yb"),
    )
    coded = keyed.select(
        "o_orderkey",
        "o_orderdate",
        _morton_col(F.col("xb"), F.col("yb")).cast("bigint").alias("morton"),
    )
    return (
        coded.groupBy(
            F.shiftright(F.col("morton"), _Z_TILE_SHIFT)
            .cast("bigint")
            .alias("tile")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("morton").cast("bigint").alias("min_morton"),
            F.max("morton").cast("bigint").alias("max_morton"),
            F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
            F.min("o_orderdate").cast("string").alias("min_date"),
            F.max("o_orderdate").cast("string").alias("max_date"),
        )
        .orderBy("tile")
    )


# ---------------------------------------------------------------------------
# Scan provenance audit
# ---------------------------------------------------------------------------


@register(
    "audit_scan_provenance",
    oracle="""
    SELECT o_orderpriority AS partition_value,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey,
           TRUE AS path_matches
    FROM orders
    GROUP BY 1 ORDER BY partition_value
    """,
    doc="Scan provenance audit: write orders partitioned by priority "
        "to a scratch lakehouse layout, read the files BACK with the "
        "engine's file-provenance pseudo-column (Spark "
        "input_file_name(); DuckDB's filename=true is the same "
        "facility), parse the hive partition value out of the "
        "physical path, and certify per partition that (a) the routed "
        "row counts and key ranges equal what the source table says "
        "they must be and (b) every row's path-derived value equals "
        "its column value (path_matches pinned TRUE via bool_and — a "
        "single misrouted row flips the output and fails the hash "
        "gate). This is the debugging/lineage primitive for 'which "
        "file did this row come from' questions and for validating "
        "custom writers. The 100 TB shape: input_file_name is a "
        "map-side virtual column (no shuffle to carry it); the audit "
        "aggregate partial-combines onto the partition-value frame; "
        "reading back what you just wrote is one extra scan of the "
        "written bytes, the unavoidable floor for a physical audit.",
)
def audit_scan_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _os.path.join(_scratch_dir("provenance_audit"), "orders_by_priority")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    # one file per partition dir: cluster rows by the partition column
    # before the partitioned write (at real scale: repartition(N, col))
    o.repartition("o_orderpriority").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(out)
    back = spark.read.parquet(out).select(
        "o_orderkey",
        "o_orderpriority",
        F.regexp_extract(
            F.input_file_name(), r"o_orderpriority=([^/]+)/", 1
        ).alias("raw_path_value"),
    )
    # hive paths URL-encode specials; decode before comparing
    back = back.withColumn("path_value", F.url_decode("raw_path_value"))
    return (
        back.groupBy(F.col("o_orderpriority").alias("partition_value"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
            F.bool_and(F.col("path_value") == F.col("o_orderpriority")).alias(
                "path_matches"
            ),
        )
        .orderBy("partition_value")
    )


# ---------------------------------------------------------------------------
# Next-fit compaction planner
# ---------------------------------------------------------------------------

_PACK_FILL = 1_000_000_000  # state encoding bin*1e9 + fill; fill < 1e9
_PACK_CAP_X = 4  # capacity = 4x the average item size (scale-invariant)


@register(
    "compaction_bin_packing",
    oracle=f"""
    WITH items AS (
        SELECT o_orderpriority AS part,
               CAST((year(o_orderdate) - 1995) * 12
                    + (month(o_orderdate) - 1) AS BIGINT) AS m,
               CAST(count(*) * 100 AS BIGINT) AS size
        FROM orders GROUP BY 1, 2
    ),
    cap AS (
        SELECT CAST({_PACK_CAP_X} * (sum(size) // count(*)) AS BIGINT) AS c
        FROM items
    ),
    packed AS (
        SELECT part, list(struct_pack(m := m, size := size) ORDER BY m) AS l
        FROM items GROUP BY part
    ),
    expanded AS (
        SELECT part, l, unnest(generate_series(1, len(l))) AS t
        FROM packed
    ),
    folded AS (
        SELECT e.part, e.l[e.t].m AS m, e.l[e.t].size AS size,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                list_transform(e.l[1:e.t], s -> s.size)),
                   (acc, x) -> CASE
                       WHEN acc % {_PACK_FILL} + x > c.c
                       THEN (acc // {_PACK_FILL} + 1) * {_PACK_FILL} + x
                       ELSE acc + x END) AS state
        FROM expanded e CROSS JOIN cap c
    )
    SELECT part, m AS month_index, size,
           CAST(state // {_PACK_FILL} AS BIGINT) AS bin,
           CAST(state % {_PACK_FILL} AS BIGINT) AS bin_fill_after
    FROM folded
    ORDER BY part, month_index
    """,
    doc="Next-fit compaction planner — the small-file bin packer "
        "every lakehouse maintenance job runs: per-partition monthly "
        "'files' (size proxy = 100 bytes/row) stream in layout order "
        "through the NEXT-FIT rule (open a new bin when the current "
        "one would overflow; never look back — the streaming-friendly "
        "2-approximation of optimal packing). The fold state (bin, "
        "fill) packs into ONE bigint bin*1e9+fill, so the per-item "
        "assignment is a pure integer left fold both engines replay "
        "identically (Spark F.aggregate / oracle list_reduce, init "
        "prepended); the capacity derives from the average item size "
        "(x4), making the plan scale-invariant instead of pinned to "
        "a byte constant. The trajectory comes from prefix folds over "
        "the CALENDAR-bounded month list (<=100 elements — O(n^2) on "
        "a frame that never grows with data). The 100 TB shape: item "
        "stats partial-aggregate map-side to the partition x month "
        "frame, and the rest is ONE linear plan over that frame with "
        "no checkpoint: the capacity is an unpartitioned window over "
        "the priority x month calendar, and each item's state an "
        "F.aggregate over a running-window collect_list per partition "
        "(ROWS UNBOUNDED PRECEDING, ordered by the unique month, so "
        "every prefix is deterministic); the "
        "emitted (file -> bin) map is exactly the job list a "
        "compactor executes.",
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("part"),
            (
                (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
            )
            .cast("bigint")
            .alias("m"),
        )
        .agg((F.count("*") * 100).cast("bigint").alias("size"))
    )
    # The windows below see only the priority x month calendar rows; m is
    # unique per part, so each running collect_list prefix is in month
    # order and deterministic.
    everything = Window.partitionBy()
    with_cap = items.withColumn(
        "c",
        F.lit(_PACK_CAP_X)
        * F.floor(
            F.sum("size").over(everything) / F.count("*").over(everything)
        ).cast("bigint"),
    )
    cum = (
        Window.partitionBy("part")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fill_lit = F.lit(_PACK_FILL).cast("long")
    state = F.aggregate(
        F.collect_list("size").over(cum),
        F.lit(0).cast("long"),
        lambda acc, x: F.when(
            F.pmod(acc, fill_lit) + x > F.col("c"),
            (F.floor(acc / fill_lit).cast("long") + 1) * fill_lit + x,
        ).otherwise(acc + x),
    )
    return (
        with_cap.withColumn("state", state)
        .select(
            "part",
            F.col("m").alias("month_index"),
            "size",
            F.floor(F.col("state") / fill_lit).cast("bigint").alias("bin"),
            F.pmod("state", fill_lit).cast("bigint").alias("bin_fill_after"),
        )
        .orderBy("part", "month_index")
    )
