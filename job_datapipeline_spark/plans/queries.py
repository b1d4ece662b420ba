"""The original query surface: at least one named query per operator
family from SURVEY.md §2. The other plan modules in this package add the
extended training-data surface. ``plans/registry.py`` holds the registry;
it is re-exported here as ``REGISTRY`` for existing callers. Each entry is:

- ``fn(spark, sf_dir) -> DataFrame``: the Spark-first plan, and
- ``oracle``: equivalent ANSI SQL for DuckDB over the same parquet views
  (or None for genuinely non-SQL-expressible operators).

Cross-engine determinism rules (applied in BOTH the Spark plan and oracle):
- every computed column is aliased identically on both sides,
- double aggregates are ``round(x, 2)`` (sums) / ``round(x, 4)`` (ratios) —
  double accumulation order differs between engines; rounding absorbs it,
- integer sums are cast to bigint in the oracle (DuckDB widens to HUGEINT),
- top-k always carries a total tiebreak so the selected SET is deterministic,
- md5 is the shared hash primitive (bit-identical across engines).
"""

from __future__ import annotations

import os as _os
import os.path as _os_path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import literal_dim, table
from ..functions.scale import fan_out
from ..functions.text import fingerprint, tokenize
from ..functions.vectors import cosine
from ..operators.topk import rank_pivot, top_k_per_group
from .registry import REGISTRY, Query, register


_SCRATCH_ROOTS: set[str] = set()


def _proc_start_ticks(pid: int) -> int | None:
    """The process start time in clock ticks since boot (/proc/<pid>/stat
    field 22) — the stable identity that distinguishes a live pid from a
    RECYCLED one.  None where /proc is unavailable (non-Linux)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        # comm (field 2) may itself contain spaces/parens; everything
        # after the LAST ')' is whitespace-delimited, starting at field 3
        return int(stat.rsplit(b")", 1)[1].split()[19])
    except (OSError, ValueError, IndexError):
        return None


def _scratch_dir(key: str) -> str:
    """A stable per-query scratch directory, wiped on every call.

    Fixture-writing queries (streaming checkpoints, sink round trips,
    multimodal fixtures) previously mkdtemp'd a fresh dir per invocation and
    never cleaned up, so repeated gate runs accumulated temp data on disk.
    Keying by a per-call-site name under one root keeps disk usage bounded
    (at most one copy per query per process) while the wipe preserves the
    fresh-dir semantics streaming checkpoints rely on: a reused checkpoint
    would resume from the prior run's committed offsets and emit zero rows.

    The root is keyed by user AND pid: two harness processes running
    concurrently (e.g. the gate mirror and pytest) would otherwise share
    one root, and process A's wipe-on-call can delete process B's fixture
    between its write and its read-back — observed once as a
    file-not-found in ops_backfill_planner. Per-pid roots make concurrent
    runs independent. Disk stays bounded across invocations two ways (a
    '/tmp reaper' is not guaranteed on Linux hosts): this process's root
    is rmtree'd at interpreter exit, and stale sibling roots whose pid no
    longer exists are swept on first use.  Liveness is NOT keyed on
    kill(pid, 0) alone: a recycled pid would make an orphaned root look
    alive forever, so each root records its owner's /proc start-time
    stamp and a live pid whose current start time mismatches the stamp
    is treated as recycled and swept.
    """
    import atexit
    import getpass
    import shutil
    import tempfile

    user = getpass.getuser()
    root = _os_path.join(
        tempfile.gettempdir(), f"jdp_scratch_{user}_{_os.getpid()}"
    )
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _os.makedirs(root, exist_ok=True)
        own_start = _proc_start_ticks(_os.getpid())
        if own_start is not None:
            try:
                with open(_os_path.join(root, "_owner_start"), "w") as fh:
                    fh.write(str(own_start))
            except OSError:
                pass
        # Sweep siblings left by crashed/killed processes: a root named
        # for a pid that is no longer alive can never be wiped by its
        # owner.  kill(pid, 0) probes liveness without signalling; EPERM
        # means the pid exists but belongs to another user — leave it.
        prefix = f"jdp_scratch_{user}_"
        try:
            for entry in _os.listdir(tempfile.gettempdir()):
                if not entry.startswith(prefix):
                    continue
                try:
                    pid = int(entry[len(prefix):])
                except ValueError:
                    continue
                if pid == _os.getpid():
                    continue
                sib = _os_path.join(tempfile.gettempdir(), entry)
                try:
                    _os.kill(pid, 0)
                except ProcessLookupError:
                    shutil.rmtree(sib, ignore_errors=True)
                    continue
                except OSError:
                    continue
                # pid is alive — but is it the ORIGINAL owner?  Compare
                # the stamp written at root creation with the live pid's
                # current start time; a mismatch means the pid was
                # recycled and the root is orphaned.
                try:
                    with open(_os_path.join(sib, "_owner_start")) as fh:
                        stamped = int(fh.read().strip())
                except (OSError, ValueError):
                    continue  # pre-stamp root or unreadable: leave it
                live = _proc_start_ticks(pid)
                if live is not None and live != stamped:
                    shutil.rmtree(sib, ignore_errors=True)
        except OSError:
            pass
    path = _os_path.join(root, key)
    shutil.rmtree(path, ignore_errors=True)
    _os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# Relational core: aggregation
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: scan -> partial agg -> final agg. "
        "Maps reference A2/A3 grouped counting (populator.py:39-46) to a "
        "hash aggregate with map-side combine.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name
    """,
    doc="TPC-H Q5-style multi-join revenue rollup. The nation/region dims "
        "broadcast (reference J2/J3 dict lookups -> broadcast hash joins).",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (SURVEY §2.4 extended surface) — subtotal rows "
        "carry nulls in the rolled-up keys, identical in both engines.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS sum_price,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets over orders.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Multi distinct-aggregate (expand + two-phase agg under the hood).",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("*").alias("n"),
    )


@register(
    "argmax_latest_event",
    oracle="""
    SELECT user_id,
           max_by(event_type, ts) AS last_event_type,
           round(max_by(value, ts), 2) AS last_value,
           max(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
    doc="S7 'newest object only' semantics (populator.py:15,22 argmax by "
        "LastModified) as max_by per key — no sort, single hash agg.",
)
def argmax_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "ts").alias("last_event_type"),
        F.round(F.max_by("value", "ts"), 2).alias("last_value"),
        F.max("ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Relational core: joins
# ---------------------------------------------------------------------------

@register(
    "join_left_customer_orders",
    oracle="""
    SELECT c_custkey, c_name,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    doc="Left outer join + agg; customers with zero orders kept (J4 'None "
        "when absent' lookup semantics, main.py:177-180).",
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left anti join (reference's 'already-scraped URL' dedup pattern, "
        "SURVEY §2.7 U3 persistent form).",
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


@register(
    "join_semi_parts_shipped",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    """,
    doc="Left semi join (J6 token-in-skills semantics, populator.py:44).",
)
def join_semi_parts_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_name")


@register(
    "join_full_outer_nation_stats",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    doc="Full outer join of two aggregates.",
)
def join_full_outer_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk")).agg(F.count("*").alias("n_cust"))
    s = table(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk")).agg(F.count("*").alias("n_supp"))
    return (
        c.join(s, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "join_cross_region_status",
    oracle="""
    SELECT r_name, o_orderstatus, count(*) AS n
    FROM region CROSS JOIN orders
    GROUP BY r_name, o_orderstatus
    """,
    doc="Cross join (J1 search_terms x locations URL generation, "
        "main.py:32-38) — small side broadcast, never shuffled.",
)
def join_cross_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    o = table(spark, sf_dir, "orders")
    return F.broadcast(r).crossJoin(o).groupBy("r_name", "o_orderstatus").agg(F.count("*").alias("n"))


@register(
    "join_range_price_band",
    oracle="""
    SELECT b.band, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 200000.0), ('high', 200000.0, 1e18))
         AS b(band, lo, hi)
      ON o_totalprice >= b.lo AND o_totalprice < b.hi
    GROUP BY b.band
    """,
    doc="Non-equi (range) join against a literal band dim — broadcast nested "
        "loop; SURVEY §2.3 'range join free in Spark'.",
)
def join_range_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bands = literal_dim(
        spark,
        [("low", 0.0, 50000.0), ("mid", 50000.0, 200000.0), ("high", 200000.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        o.join(F.broadcast(bands), (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


# ---------------------------------------------------------------------------
# Windows / ranking / top-k
# ---------------------------------------------------------------------------

@register(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
    doc="Running sum per customer (cumulative frame).",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend")
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta_prev,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead over a deterministic per-customer order timeline.",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@register(
    "window_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg_3
    FROM events
    """,
    doc="3-row moving average per user over the event stream (batch form of "
        "the sliding-window streaming agg).",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, Window.currentRow)
    return ev.select("user_id", "event_id", F.round(F.avg("value").over(w), 4).alias("mov_avg_3"))


@register(
    "topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rank
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders)
    WHERE rank <= 3
    """,
    doc="Grouped top-k with deterministic tiebreak (the W1 fix: "
        "Counter.most_common ties are insertion-ordered in the reference; "
        "here ties break on the key, populator.py:45).",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return top_k_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_cols=["o_custkey"],
        order_col="o_totalprice",
        k=3,
        tiebreak_cols=["o_orderkey"],
    )


# ---------------------------------------------------------------------------
# The reference's flagship: top-10 skills per group (populator stage)
# ---------------------------------------------------------------------------

# A fixed skills vocabulary, playing the role of the reference's 64-term
# skills.json list (data_populator/skills.json:1-16) over the documents table.
SKILLS_VOCAB = (
    "spark", "join", "sort", "merge", "filter", "window", "hash", "scan",
    "agg", "stream", "vector", "query", "batch", "column", "row", "table",
    "key", "data", "group", "order",
)


def _doc_skill_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode(tokenize) -> semi-join skills -> groupBy count: the populator
    pipeline (populator.py:39-46) as one declarative plan. The skills dim is
    a broadcast literal; the count is a two-phase hash agg."""
    docs = table(spark, sf_dir, "documents")
    skills = literal_dim(spark, [(s,) for s in SKILLS_VOCAB], "token string")
    toks = docs.select("lang", F.explode(tokenize(F.col("text"))).alias("token"))
    return (
        toks.join(F.broadcast(skills), "token", "left_semi")
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )


_SKILLS_IN = ", ".join(f"'{s}'" for s in SKILLS_VOCAB)

_TOP_SKILLS_ORACLE = f"""
    WITH toks AS (
        SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT lang, token, count(*) AS cnt
        FROM toks WHERE token IN ({_SKILLS_IN})
        GROUP BY lang, token
    ),
    ranked AS (
        SELECT lang, token, cnt,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
        FROM cnt
    )
    SELECT lang, rank, token, cnt FROM ranked WHERE rank <= 10
"""


@register(
    "top_skills_by_lang",
    oracle=_TOP_SKILLS_ORACLE,
    doc="FLAGSHIP — the populator query end-to-end (populator.py:39-46): "
        "tokenize -> semi-join skills vocab -> grouped count -> "
        "deterministic top-10 per group. Touches explode/semi-join/agg/"
        "window in one plan.",
)
def top_skills_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _doc_skill_counts(spark, sf_dir)
    ranked = top_k_per_group(
        counts, group_cols=["lang"], order_col="cnt", k=10, tiebreak_cols=["token"]
    )
    return ranked.select("lang", "rank", "token", "cnt")


@register(
    "top_skills_pivot",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT lang, token, count(*) AS cnt
        FROM toks WHERE token IN ({_SKILLS_IN})
        GROUP BY lang, token
    ),
    ranked AS (
        SELECT lang, token,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
        FROM cnt
    )
    SELECT lang,
           {", ".join(f"min(CASE WHEN rank = {i} THEN token END) AS top_skill_n_{i}" for i in range(1, 11))}
    FROM ranked GROUP BY lang
    """,
    doc="W2 rank->column pivot (populator.py:55-58): the Top_10_skills "
        "serving-table shape, columns top_skill_n_1..10.",
)
def top_skills_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _doc_skill_counts(spark, sf_dir)
    ranked = top_k_per_group(
        counts, group_cols=["lang"], order_col="cnt", k=10, tiebreak_cols=["token"]
    )
    return rank_pivot(ranked, key_cols=["lang"], rank_col="rank", value_col="token", k=10)


# ---------------------------------------------------------------------------
# Set operations / distinct / dedup
# ---------------------------------------------------------------------------

@register(
    "setops_segments",
    oracle="""
    SELECT 'union' AS op, count(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    """,
    doc="UNION / INTERSECT / EXCEPT (SURVEY §2.7; U1 union-all, U2 distinct).",
)
def setops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    b = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("k"))

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        one("union", a.union(b).distinct())
        .unionByName(one("intersect", a.intersect(b)))
        .unionByName(one("except", a.exceptAll(b.distinct()).distinct()))
    )


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


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------

@register(
    "scalar_string_ops",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substring(p_name, 1, 5) AS name_prefix,
           replace(p_type, ' ', '_') AS type_snake,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type
    FROM part
    """,
    doc="String scalar surface (F1/F2/F9/F14 analogues).",
)
def scalar_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "scalar_date_ops",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           date_trunc('day', o_orderdate) AS order_day,
           strftime(o_orderdate, '%d-%m-%Y') AS stamped
    FROM orders
    """,
    doc="Date scalar surface incl. the reference's dd-MM-yyyy run-date stamp "
        "(F10, cleaner.py:143, main.py:121-123).",
)
def scalar_date_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.date_trunc("day", F.col("o_orderdate")).cast("timestamp_ntz").alias("order_day"),
        F.date_format("o_orderdate", "dd-MM-yyyy").alias("stamped"),
    )


@register(
    "scalar_json_props",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON field access (F15, cleaner.py:103 / events.props) + agg.",
)
def scalar_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.get_json_object("props", "$.k").cast("double")), 4).alias("avg_k"),
    )


@register(
    "scalar_case_null",
    oracle="""
    SELECT CASE WHEN c_acctbal IS NULL THEN 'missing'
                WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_band,
           count(*) AS n,
           round(sum(coalesce(c_acctbal, 0.0)), 2) AS sum_bal
    FROM customer
    GROUP BY 1
    """,
    doc="CASE WHEN banding + null handling (P4/P5 sentinel semantics).",
)
def scalar_case_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal").isNull(), "missing")
        .when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return c.groupBy(band.alias("bal_band")).agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.coalesce("c_acctbal", F.lit(0.0))), 2).alias("sum_bal"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits
# ---------------------------------------------------------------------------

@register(
    "orderby_limit_top_parts",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    ORDER BY p_retailprice DESC, p_partkey
    LIMIT 10
    """,
    doc="Global top-N (O2/O3): TakeOrderedAndProject, no full sort at scale.",
)
def orderby_limit_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Streaming-equivalent batch shapes over events
# ---------------------------------------------------------------------------

@register(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregate — the batch twin of the Structured "
        "Streaming pipeline in streaming/ (same plan modulo source).",
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    """,
    doc="Sessionization (30-min inactivity gap) via gaps-and-islands — batch "
        "twin of F.session_window in streaming mode.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.withColumn("session_id", F.sum("is_new").over(w2).cast("bigint"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Embeddings: similarity surface
# ---------------------------------------------------------------------------

@register(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
             SELECT q.q_id, e.vec_id,
                    round(list_dot_product(e.embedding, q.qv) /
                          (sqrt(list_dot_product(e.embedding, e.embedding)) *
                           sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id != q.q_id
         )
    SELECT q_id, vec_id, cos, rank FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
    WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 neighbors for 5 query vectors — the exact "
        "ANN baseline; corpus scan is one broadcast-joined codegen stage.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", F.round(cosine(F.col("embedding"), F.col("qv")), 4))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Cleaner-stage parser semantics (data-cleaner/cleaner.py) — exercised over
# literal inputs with golden-value oracles (the expected outputs are part of
# the spec; the oracle encodes them as a VALUES table).
# ---------------------------------------------------------------------------

from ..functions import cleaning as _C  # noqa: E402
from ..pipelines.cleaner import clean_jobs as _clean_jobs  # noqa: E402
from ..pipelines.cleaner import exchange_rates_dim as _rates_dim  # noqa: E402
from ..pipelines.populator import skills_dim as _skills_dim  # noqa: E402
from ..pipelines.populator import top_skills as _top_skills  # noqa: E402

_SALARY_CASES = [
    ("£25,000 - £35,000 (Employer Est.)", "GBP", 25000, 35000),
    ("$55,000 (Employer Est.)", "USD", 55000, 55000),
    ("$20 Per Hour (Employer Est.)", "USD", 41760, 41760),
    ("€30,000 - €40,000", "EUR", 30000, 40000),
    ("$25K - $35K (Employer Est.)", "USD", 25000, 35000),
    ("CHF 90,000 - CHF 110,000", "CHF", 90000, 110000),
]


@register(
    "cleaner_salary_parse",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{s}', '{cur}', {lo}, {hi})" for s, cur, lo, hi in _SALARY_CASES)
    + ") AS t(salary, currency, min_salary, max_salary)",
    doc="F6 salary parser (cleaner.py:42-79): currency prefix -> ISO, strip "
        "annotations, split range, annualize Per-Hour by 8h*261d; golden "
        "oracle holds the reference-spec outputs.",
)
def cleaner_salary_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = literal_dim(spark, [(s,) for s, *_ in _SALARY_CASES], "salary string")
    lo, hi = _C.parse_salary_bounds(F.col("salary"))
    return df.select(
        "salary",
        _C.salary_currency(F.col("salary")).alias("currency"),
        lo.alias("min_salary"),
        hi.alias("max_salary"),
    )


_SIZE_CASES = [
    ("1001 to 5000 Employees", 1001, 5000),
    ("10000+ Employees", 10000, 10000),
    ("51 to 200 Employees", 51, 200),
    ("Unknown", None, None),
]


@register(
    "cleaner_company_size",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(
        f"('{s}', {lo if lo is not None else 'NULL'}, {hi if hi is not None else 'NULL'})"
        for s, lo, hi in _SIZE_CASES
    )
    + ") AS t(company_size, size_min, size_max)",
    doc="F5 company-size parser (cleaner.py:97-100): 'A to B Employees' -> "
        "(A,B); 'N+ Employees' -> (N,N); unparseable -> nulls.",
)
def cleaner_company_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = literal_dim(spark, [(s,) for s, *_ in _SIZE_CASES], "company_size string")
    lo, hi = _C.parse_company_size(F.col("company_size"))
    return df.select("company_size", lo.alias("size_min"), hi.alias("size_max"))


@register(
    "cleaner_scalar_ops",
    oracle="""
    SELECT * FROM (VALUES
        ('example.com/a', 'https://example.com/a', '7,764 Jobs', '7764',
         '17-08-2021data-scientist-remote.csv', 'data scientist'),
        ('http://x.io', 'http://x.io', 'Page 1 of 30', '130',
         '31-08-2021data-engineer-all.csv', 'data engineer')
    ) AS t(url, url_norm, counter, digits, filename, job_position)
    """,
    doc="S2 url normalizer (common.py:10-13), F8 digit strip (page.py:28), "
        "S6 filename->job_position (cleaner.py:10-14,27).",
)
def cleaner_scalar_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("example.com/a", "7,764 Jobs", "17-08-2021data-scientist-remote.csv"),
        ("http://x.io", "Page 1 of 30", "31-08-2021data-engineer-all.csv"),
    ]
    df = literal_dim(spark, rows, "url string, counter string, filename string")
    return df.select(
        "url",
        _C.normalize_url(F.col("url")).alias("url_norm"),
        "counter",
        _C.strip_digits(F.col("counter")).alias("digits"),
        "filename",
        _C.job_position_from_filename(F.col("filename")).alias("job_position"),
    )


_JOBS_ROWS = [
    # company_name, rating, salary, size
    ("acme analytics 4.5★", None, "£25,000 - £35,000 (Employer Est.)", "1001 to 5000 Employees"),
    ("data corp", 3.9, "$55,000 (Employer Est.)", "10000+ Employees"),
    (None, 4.0, "$60,000", "51 to 200 Employees"),  # dropped by P1
    ("tiny shop", None, "$20 Per Hour (Employer Est.)", "Unknown"),
]


@register(
    "cleaner_full_stage",
    oracle="""
    SELECT * FROM (VALUES
        ('Acme Analytics ', 4.5, 'GBP', 31250, 43750, 1001, 5000),
        ('Data Corp', 3.9, 'USD', 55000, 55000, 10000, 10000),
        ('Tiny Shop', NULL, 'USD', 41760, 41760, NULL, NULL)
    ) AS t(company_name, company_rating, currency,
           min_estimated_salary, max_estimated_salary,
           company_size_min, company_size_max)
    """,
    doc="The full clean stage end-to-end (cleaner.py:81-116): null filter, "
        "rating split (note the reference keeps the trailing space: "
        "name[:-4] strips '4.5★' but not the separator), initcap intent, "
        "size parse, salary parse + FX broadcast join (GBP rate 0.8 -> "
        "25000/0.8=31250).",
)
def cleaner_full_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = literal_dim(
        spark,
        _JOBS_ROWS,
        "company_name string, company_rating double, "
        "company_estimated_salary string, company_size string",
    )
    rates = _rates_dim(spark, {"USD": 1.0, "GBP": 0.8, "EUR": 0.9})
    cleaned = _clean_jobs(jobs, rates)
    return cleaned.select(
        "company_name",
        "company_rating",
        "currency",
        "min_estimated_salary",
        "max_estimated_salary",
        "company_size_min",
        "company_size_max",
    )


@register(
    "populator_top_skills_kv",
    oracle=f"""
    WITH toks AS (
        SELECT lang AS job, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT job, token, count(*) AS cnt FROM toks
        WHERE token IN ({_SKILLS_IN}) GROUP BY job, token
    ),
    ranked AS (
        SELECT job, token,
               row_number() OVER (PARTITION BY job ORDER BY cnt DESC, token) AS rank
        FROM cnt
    )
    SELECT substring(sha256(job), 1, 32) AS job_id,
           {", ".join(f"min(CASE WHEN rank = {i} THEN token END) AS top_skill_n_{i}" for i in range(1, 11))}
    FROM ranked WHERE rank <= 10 GROUP BY job
    """,
    doc="Populator end state (populator.py:47-58): Top_10_skills serving "
        "table keyed by the deterministic job_id (sha2-256/32, the engine's "
        "replacement for uuid5 at populator.py:53).",
)
def populator_top_skills_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    skills = _skills_dim(spark, SKILLS_VOCAB)
    _jobs_kv, pivoted = _top_skills(docs, skills, group_col="lang", text_col="text", k=10)
    return pivoted


# ---------------------------------------------------------------------------
# Text-analysis surface over documents
# ---------------------------------------------------------------------------

from ..functions import text as _T  # noqa: E402

_STOPWORDS_IN = ", ".join(f"'{w}'" for w in _T.STOPWORDS_EN)


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
                END AS BIGINT) AS n_tokens,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           CAST(length(text) AS BIGINT) AS text_len
    FROM documents
    """,
    doc="Token counting + md5 document fingerprint per doc — the cheap "
        "text-quality signals, all expression-level.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _T.token_count(F.col("text")).alias("n_tokens"),
        _T.fingerprint(F.col("text")).alias("fp"),
        F.length("text").cast("bigint").alias("text_len"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           coalesce(round(CAST(len(list_filter(toks, x -> x IN ({_STOPWORDS_IN}))) AS DOUBLE)
                 / nullif(len(toks), 0), 4), 0.0) AS stop_ratio,
           coalesce(round(CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                 / nullif(length(text), 0), 4), 0.0) AS punct_ratio
    FROM t
    """,
    doc="Quality-score components per doc: stopword ratio + punctuation "
        "ratio (usable as pushed-down corpus filters).",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = _T.tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(_T.stopword_ratio(toks), 4).alias("stop_ratio"),
        F.round(_T.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
    )


_LANGID_SQL_SCORES = []
for _code in sorted(_T.LANG_MARKERS):
    _marks = ", ".join(f"'{w}'" for w in _T.LANG_MARKERS[_code])
    _LANGID_SQL_SCORES.append(
        f"len(list_filter(toks, x -> x IN ({_marks}))) AS hits_{_code}"
    )

@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, {", ".join(_LANGID_SQL_SCORES)}
        FROM t
    ),
    best AS (
        SELECT doc_id, lang,
               CASE
                 WHEN greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) = 0 THEN 'und'
                 WHEN hits_de >= greatest(hits_en, hits_es, hits_fr, hits_zh) THEN 'de'
                 WHEN hits_en >= greatest(hits_es, hits_fr, hits_zh) THEN 'en'
                 WHEN hits_es >= greatest(hits_fr, hits_zh) THEN 'es'
                 WHEN hits_fr >= hits_zh THEN 'fr'
                 ELSE 'zh'
               END AS predicted
        FROM scored
    )
    SELECT lang, predicted, count(*) AS n
    FROM best GROUP BY lang, predicted
    """,
    doc="Language-ID heuristic (marker-word argmax, ties -> language code "
        "asc) bucketed against the labeled lang column — the confusion "
        "matrix of the classifier.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", _T.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection suite — MinHash / LSH / Jaccard / SimHash, each
# replayed exactly in SQL (md5 is the shared hash primitive). Candidates and
# dedup run over a corpus with deterministically PLANTED duplicates (an exact
# copy and a 3-token-appended near copy per doc, ids offset by 1e5/2e5) so
# the pair space is non-trivial: the raw documents table has no dup texts.
# ---------------------------------------------------------------------------

from ..operators import dedup as _D  # noqa: E402

_NDD_HASHES = 8
_NDD_BANDS = 4
_NDD_RPB = _NDD_HASHES // _NDD_BANDS  # rows per band

_SQL_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents
  UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' qq xq zq' AS text FROM documents
)"""


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = docs.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq xq zq")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


# Loosest exact-pair threshold any consumer of the shared artifacts needs:
# PPJoin prunes are lossless, so the 0.5-floor pair frame filtered to any
# tighter threshold IS that threshold's jaccard_pairs output.
_DEDUP_PAIR_FLOOR = 0.5

_DEDUP_ARTIFACTS: dict[tuple[str, str, str], DataFrame] = {}


def _planted_dedup_artifact(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Session-scoped LAZY memo of the planted-corpus measurement
    artifacts the dedup QA family shares:

    - ``corpus``          the checkpointed planted corpus
    - ``shingle_arrays``  its distinct shingle STRINGS per doc (the r11
                          shared stage: ONE tokenize/n-gram build feeds
                          both the signature and the PPJoin pipelines via
                          the operators' ``shingles=`` input)
    - ``sigs``            its MinHash signature frame (_NDD_HASHES seeds)
    - ``pairs_floor``     exact PPJoin pairs at the loosest (0.5) floor
    - ``cand_prod``       LSH candidates at the PRODUCTION config
                          (_NDD_BANDS x _NDD_RPB)
    - ``capped_corpus``   the _CC_CAP-capped planted corpus (the demo
                          slice the cluster/edit-distance trio shares)
    - ``capped_clusters`` near_dedup_clusters over it (components +
                          representatives previously each paid the full
                          signature/candidate/verify/iterate build)

    dedup_minhash_estimate_accuracy, dedup_lsh_tuning_curve and
    corpus_dedup_threshold_curve each need some subset and each used to
    rebuild shingles/signatures/truth from scratch (~25 s combined,
    ~6-7% of the whole bench).  Every query stays a PURE function of
    (spark, sf_dir): the artifacts are deterministic, the first caller
    of each frame in a session pays its build, and standalone runs are
    unchanged in semantics — the memo only collapses identical
    checkpointed builds when several of the trio run in one session
    (the bench / correctness-gate shape).  Laziness matters: the
    threshold curve never pays the signature build, the estimate report
    never pays the 0.5-floor PPJoin.  Keyed by Spark applicationId so a
    fresh session never sees another session's (unreachable) frames;
    entries keyed by OTHER applicationIds are evicted on insert, so a
    long-lived process cycling sessions never pins stopped sessions'
    DataFrames (and their localCheckpoint-lineage objects) forever."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    df = _DEDUP_ARTIFACTS.get(key)
    if df is None:
        for k in [k for k in _DEDUP_ARTIFACTS if k[0] != app_id]:
            del _DEDUP_ARTIFACTS[k]
        if name == "corpus":
            # fan_out: the planted corpus derives from a one-split documents
            # scan (union arms add at most 2 more partitions), so every
            # downstream map-side shingle/signature pass would run on <=3
            # cores; checkpointing it pre-spread across default parallelism
            # parallelizes the whole QA family's tokenize/n-gram/hash work
            # (r12 structural finding).
            df = fan_out(_planted_corpus(spark, sf_dir), "doc_id").localCheckpoint()
        elif name == "shingle_arrays":
            df = _D.shingle_string_arrays(
                _planted_dedup_artifact(spark, sf_dir, "corpus")
            ).localCheckpoint()
        elif name == "sigs":
            df = _D.minhash_signatures(
                _planted_dedup_artifact(spark, sf_dir, "corpus"),
                num_hashes=_NDD_HASHES,
                shingles=_planted_dedup_artifact(spark, sf_dir, "shingle_arrays"),
            ).localCheckpoint()
        elif name == "pairs_floor":
            df = _D.jaccard_pairs(
                _planted_dedup_artifact(spark, sf_dir, "corpus"),
                threshold=_DEDUP_PAIR_FLOOR,
                shingles=_planted_dedup_artifact(spark, sf_dir, "shingle_arrays"),
            ).localCheckpoint()
        elif name == "cand_prod":
            df = _D.lsh_candidate_pairs(
                _planted_dedup_artifact(spark, sf_dir, "sigs"),
                bands=_NDD_BANDS,
                rows_per_band=_NDD_RPB,
            ).localCheckpoint()
        elif name == "capped_corpus":
            # _capped_planted/_CC_CAP are defined later in this module;
            # resolved at call time (the memo never runs during import)
            df = fan_out(_capped_planted(spark, sf_dir, _CC_CAP), "doc_id").localCheckpoint()
        elif name == "capped_clusters":
            df = _D.near_dedup_clusters(
                _planted_dedup_artifact(spark, sf_dir, "capped_corpus"),
                num_hashes=_NDD_HASHES,
                bands=_NDD_BANDS,
                threshold=0.8,
            ).localCheckpoint()
        else:  # pragma: no cover - caller bug
            raise KeyError(name)
        _DEDUP_ARTIFACTS[key] = df
    return df


def _sql_shingles(src: str) -> str:
    """Shingle CTE replaying operators/dedup._shingles: distinct word
    3-grams, whole-doc fallback for short docs."""
    return f"""
toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM {src}),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 3
                       THEN [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
                       ELSE [array_to_string(t, ' ')] END) AS shingle
    FROM toks) u
)"""


_MINHASH_P = 2147483647  # operators/dedup.MINHASH_P (2^31 - 1)

_SQL_SIG = f"""
seeds AS (SELECT unnest(range(0, {_NDD_HASHES})) AS s),
hs AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {_MINHASH_P} AS h
  FROM sh
),
sig AS (
  SELECT doc_id, CAST(s AS INT) AS seed,
         min((h * (2 * s + 1) + s * 7919) % {_MINHASH_P}) AS minhash
  FROM hs CROSS JOIN seeds GROUP BY doc_id, s
)"""

_SQL_BANDED_CAND = f"""
banded AS (
  SELECT doc_id, CAST(seed // {_NDD_RPB} AS INT) AS band,
         string_agg(CAST(seed AS VARCHAR) || '=' || CAST(minhash AS VARCHAR), '|'
                    ORDER BY CAST(seed AS VARCHAR) || '=' || CAST(minhash AS VARCHAR)) AS band_sig
  FROM sig GROUP BY doc_id, seed // {_NDD_RPB}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)"""


@register(
    "dedup_minhash_signatures",
    oracle=f"WITH {_sql_shingles('documents')}, {_SQL_SIG} "
           "SELECT doc_id, seed, minhash FROM sig",
    doc="MinHash signatures (long form, one row per doc x hash function): "
        "one md5 base hash per shingle, multiply-add family per seed mod "
        "2^31-1. The oracle replays the family bit-identically — the design "
        "reason an md5-derived integer base was chosen "
        "(operators/dedup.py:13-15).",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return _D.minhash_signatures(docs, num_hashes=_NDD_HASHES)


@register(
    "dedup_lsh_candidates",
    oracle=f"WITH {_SQL_CORPUS}, {_sql_shingles('corpus')}, {_SQL_SIG}, {_SQL_BANDED_CAND} "
           "SELECT id_a, id_b FROM cand",
    doc="LSH candidate pairs: banded self-equi-join on (band, band_sig) over "
        "the planted-duplicate corpus — the scale-safe O(collisions) "
        "alternative to the O(n^2) pair space. Draws the session memo's "
        "production-config candidate frame (whose signatures consume the "
        "r11 shared shingle build).",
)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _planted_dedup_artifact(spark, sf_dir, "cand_prod")


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH {_SQL_CORPUS}, {_sql_shingles('corpus')},
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
    return _planted_dedup_artifact(spark, sf_dir, "pairs_floor")


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
    WITH {_SQL_CORPUS}, {_sql_shingles('corpus')}, {_SQL_SIG}, {_SQL_BANDED_CAND},
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
    # memo's cand_prod IS near_dedup's candidate set (_NDD_BANDS x
    # _NDD_RPB = the same 8-hash/4-band config), and the exact Jaccard of
    # a candidate pair IS its pairs_floor row (same _jaccard_from_arrays
    # device, same 6dp rounding; candidates below the 0.5 floor are below
    # 0.8 a fortiori), so verified-at-0.8 == pairs_floor >= 0.8 SEMI-
    # JOINED to the candidates, and the keep rule (drop id_b of any
    # verified pair) replays near_dedup exactly. One shingle build, one
    # signature pass, one PPJoin per session for the whole family.
    corpus = _planted_dedup_artifact(spark, sf_dir, "corpus")
    cand = _planted_dedup_artifact(spark, sf_dir, "cand_prod")
    drops = (
        _planted_dedup_artifact(spark, sf_dir, "pairs_floor")
        .filter(F.col("jaccard") >= 0.8)
        .join(cand, ["id_a", "id_b"], "semi")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return corpus.join(drops, "doc_id", "left_anti").select("doc_id")


# ---------------------------------------------------------------------------
# ANN (hyperplane LSH) + embedding near-dups — the hyperplanes are
# deterministic (seeded md5 stream), so the oracle embeds the SAME plane
# values as literals and replays bucketing + cosine in SQL.
# ---------------------------------------------------------------------------

from ..operators.similarity import _hyperplane as _hplane  # noqa: E402
from ..operators.similarity import lsh_topk as _lsh_topk  # noqa: E402

_ANN_PLANES = 8
_ANN_DIM = 64
_PLANES = [_hplane(s, _ANN_DIM) for s in range(_ANN_PLANES)]


def _sql_bucket(vec: str) -> str:
    """Replay hyperplane_bucket: per plane, sign of the index-ordered dot
    product -> '1'/'0'; concatenated bits form the bucket key."""
    bits = []
    for p in _PLANES:
        lits = "[" + ", ".join(repr(v) for v in p) + "]"
        bits.append(
            f"CASE WHEN list_sum([({vec})[i] * ({lits})[i] FOR i IN range(1, {_ANN_DIM + 1})]) >= 0 "
            "THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS qv, {_sql_bucket('embedding')} AS bucket
          FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.q_id, c.vec_id,
               round(list_dot_product(c.embedding, q.qv) /
                     (sqrt(list_dot_product(c.embedding, c.embedding)) *
                      sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        FROM c JOIN q USING (bucket)
    )
    SELECT q_id, vec_id, cos, rank FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
    WHERE rank <= 5
    """,
    doc="Hyperplane-LSH ANN top-5: bucket by 8 sign-of-dot bits, exact "
        "cosine only within the query's bucket. At 100 TB the corpus is "
        "written partitioned by bucket so a query touches one partition; "
        "here the oracle replays the same deterministic planes as literals.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    return _lsh_topk(emb, q, k=5, num_planes=_ANN_PLANES, dim=_ANN_DIM)


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
    b AS (SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket FROM corpus),
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
# Sources: the CSV ingest path (S5+S6) exercised end-to-end over checked-in
# fixture files shaped exactly like the reference scraper's per-run CSVs.
# ---------------------------------------------------------------------------

from ..sources.readers import read_scraped_csv as _read_scraped_csv  # noqa: E402

_CSV_FIXTURE_GLOB = "/root/repo/tests/fixtures/csv/*.csv"


@register(
    "csv_source_scan",
    oracle=f"""
    SELECT regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(parse_filename(filename), '^\\d{{2}}-\\d{{2}}-\\d{{4}}', ''),
                       '\\.(csv|parquet)$', ''),
                   '-[^-]*$', ''),
               '-', ' ', 'g') AS job_position,
           companyName AS company_name,
           company_size,
           estimated_salary
    FROM read_csv('{_CSV_FIXTURE_GLOB}', header=true, filename=true, all_varchar=true)
    """,
    doc="S5+S6 (cleaner.py:15-40,10-14): schema'd CSV glob scan — the glob "
        "replaces list-bucket+endswith filtering — with the search term "
        "recovered from each filename via input_file_name(). The oracle "
        "independently re-reads the same files and re-derives the column.",
)
def csv_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read_scraped_csv(spark, _CSV_FIXTURE_GLOB)
    return df.select(
        "job_position",
        F.col("companyName").alias("company_name"),
        "company_size",
        "estimated_salary",
    )


# ---------------------------------------------------------------------------
# HTML extraction surface (H1-H6): mapInPandas over stored-payload fixtures
# whose golden values are real rows from the reference's sample output
# (glassdoor-scraper/src/output/output_17-08-2021.csv).
# ---------------------------------------------------------------------------

from ..sources import html as _H  # noqa: E402
from ..sources import html_fixtures as _FX  # noqa: E402


def _sql_str(v) -> str:
    return "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"


def _sql_dbl(v) -> str:
    return f"CAST({'NULL' if v is None else repr(v)} AS DOUBLE)"


_LISTING_GOLDEN_VALUES = ", ".join(
    "("
    + ", ".join(
        [
            _sql_str(r["requested_url"]),
            _sql_str(r["companyName"]),
            _sql_dbl(r["company_starRating"]),
            _sql_str(r["company_offeredRole"]),
            _sql_str(r["company_roleLocation"]),
            _sql_str(r["listing_jobDesc"]),
            _sql_dbl(r["compensation_and_benefits"]),
            _sql_dbl(r["culture_and_values"]),
            _sql_dbl(r["career_opportunities"]),
            _sql_dbl(r["work_life_balance"]),
            _sql_str(r["job_type"]),
            _sql_str(r["industry"]),
            _sql_str(r["job_function"]),
            _sql_str(r["company_size"]),
        ]
    )
    + ")"
    for r in _FX.expected_listing_rows()
)


@register(
    "html_extract_listing",
    oracle="SELECT * FROM (VALUES "
    + _LISTING_GOLDEN_VALUES
    + """) AS t(requested_url, companyName, company_starRating,
               company_offeredRole, company_roleLocation, listing_jobDesc,
               compensation_and_benefits, culture_and_values,
               career_opportunities, work_life_balance,
               job_type, industry, job_function, company_size)""",
    doc="H1-H5 (listing.py:14-205): banner/description/highlights extraction "
        "as ONE Arrow-batched mapInPandas stage over (url, html) payloads. "
        "Golden oracle = real rows from the reference's sample output "
        "(output_17-08-2021.csv); fixture pages reproduce the structures the "
        "reference's selectors walked (rating-suffix banner, li-joined "
        "descriptions, parent-sibling rating labels, N/A and absent-label "
        "null paths).",
)
def html_extract_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    payload = literal_dim(spark, _FX.listing_fixture_rows(), "url string, html string")
    return _H.extract_listings_df(payload)


_HARVEST_GOLDEN_VALUES = ", ".join(
    f"({_sql_str(_FX.RESULT_PAGE_URL)}, {_sql_str(url)}, {_sql_str(sal)})"
    for url, sal in _FX.GOLDEN_LINKS
)


@register(
    "html_harvest_links",
    oracle="SELECT * FROM (VALUES "
    + _HARVEST_GOLDEN_VALUES
    + ") AS t(page_url, listing_url, salary)",
    doc="H6 (page.py:35-60): result-page link harvest — listing anchors "
        "filtered by the jobListing marker, de-duplicated, each with its "
        "sibling detailSalary span when present; unrelated links ignored.",
)
def html_harvest_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    payload = literal_dim(
        spark, [(_FX.RESULT_PAGE_URL, _FX.render_result_page_html())], "url string, html string"
    )
    return _H.harvest_links_df(payload)


# ---------------------------------------------------------------------------
# Multimodal columns: binaryFile source + typed metadata + content dedup.
# Oracle = an independent recomputation (hashlib/os.stat at registration
# time) of the same fixture blobs the Spark plan reads via binaryFile.
# ---------------------------------------------------------------------------

import glob as _glob  # noqa: E402
import hashlib as _hashlib  # noqa: E402
import os as _os  # noqa: E402

from ..sources import multimodal as _MM  # noqa: E402

_BLOB_DIR = "/root/repo/tests/fixtures/blobs"


def _blob_golden_values() -> str:
    rows = []
    for path in sorted(_glob.glob(_os.path.join(_BLOB_DIR, "*"))):
        with open(path, "rb") as f:
            content = f.read()
        name = _os.path.basename(path)
        ext = name.rsplit(".", 1)[-1].lower()
        rows.append(
            f"('{name}', '{ext}', CAST({len(content)} AS BIGINT), "
            f"'{_hashlib.md5(content).hexdigest()}')"
        )
    return ", ".join(rows)


@register(
    "multimodal_blob_stats",
    oracle="SELECT * FROM (VALUES "
    + _blob_golden_values()
    + ") AS t(file_name, extension, n_bytes, content_md5)",
    doc="Multimodal blob scan: binaryFile source over the fixture dir -> "
        "typed metadata struct (name, extension, byte length, md5 content "
        "fingerprint), all JVM-side. The oracle recomputes every value "
        "independently with hashlib/os.stat over the same files.",
)
def multimodal_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = _MM.with_blob_metadata(_MM.read_binary_dir(spark, _BLOB_DIR))
    return blobs.select(
        F.col("meta.file_name").alias("file_name"),
        F.col("meta.extension").alias("extension"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# P3 contains-predicate grouping + J5 point lookup — the two small reference
# semantics round 1 left uncovered.
# ---------------------------------------------------------------------------

@register(
    "populator_contains_match",
    oracle="""
    WITH jobs AS (SELECT unnest(['42', '007', '999']) AS job)
    SELECT j.job, count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS sum_bal
    FROM customer c JOIN jobs j ON contains(c.c_name, j.job)
    GROUP BY j.job
    """,
    doc="P3 (populator.py:43): the reference groups rows by SUBSTRING "
        "containment (str.contains), not equality — each 'job' collects "
        "every row whose name contains it, so rows can match multiple "
        "groups and the join is a broadcast non-equi join, not a hash join. "
        "The equality-semantics variant used by top_skills_by_lang is the "
        "documented divergence; this query covers the faithful form.",
)
def populator_contains_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    jobs = literal_dim(spark, [("42",), ("007",), ("999",)], "job string")
    return (
        c.join(F.broadcast(jobs), F.col("c_name").contains(F.col("job")))
        .groupBy("job")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@register(
    "point_lookup_customer",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_custkey = 42
    """,
    doc="J5/S15 (rest_api index.py:16-25, skills_interface.py:22): the "
        "serving layer's point get as a keyed filter — at rest this table "
        "is bucketed/partitioned by key so the scan prunes to one file.",
)
def point_lookup_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") == 42).select(
        "c_custkey", "c_name", "c_mktsegment", F.round("c_acctbal", 2).alias("acctbal")
    )


# ---------------------------------------------------------------------------
# Extended relational surface: as-of join, salted skew join, exact
# percentiles, BPE-ish regex tokenization.
# ---------------------------------------------------------------------------

from ..operators.asof import asof_join as _asof_join  # noqa: E402
from ..operators.skew import salted_join as _salted_join  # noqa: E402


@register(
    "join_asof_order_event",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           e.event_type AS last_event_type,
           round(e.value, 2) AS last_event_value
    FROM orders o
    ASOF LEFT JOIN (
        SELECT user_id, ts,
               max_by(event_type, event_id) AS event_type,
               max_by(value, event_id) AS value
        FROM events GROUP BY user_id, ts) e
      ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
    """,
    doc="As-of join (custom operator Spark lacks natively): each order "
        "enriched with the customer's latest event at or before order "
        "time. Union-and-carry-forward plan — one shuffle on the key, one "
        "carried struct per key, no range-join pair blow-up. Oracle uses "
        "DuckDB's native ASOF JOIN.",
)
def join_asof_order_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    joined = _asof_join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        _events_unique_ts(spark, sf_dir),
        key_left="o_custkey",
        key_right="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        payload_cols=["event_type", "value"],
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_event_value"),
    )


@register(
    "join_salted_skew",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Salted join (explicit skew mitigation): the fact side salts on "
        "event_id, the dim replicates over the salt domain, the join key "
        "becomes (key, salt) — a hot user spreads over 8 reducers. Result "
        "is provably identical to the plain join (the oracle IS the plain "
        "join).",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    c = table(spark, sf_dir, "customer")
    joined = _salted_join(ev, c.select("c_custkey", "c_mktsegment"), "c_custkey", "event_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact percentiles (linear interpolation) per group — Spark "
        "percentile() and DuckDB quantile_cont share the definition, so "
        "values match to rounding. SMALL-GROUP-ONLY: exact percentile "
        "buffers every value of a group in one aggregation state, so with "
        "few huge groups it is an OOM at 100 TB — the scale path is "
        "agg_percentiles_approx (GK sketch, bounded state).",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # both price percentiles from ONE array-percentile aggregate — each
    # exact percentile buffers every group value, so per-quantile calls
    # on the same column multiply the dominant buffer cost
    prices = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)))
    return li.groupBy("l_returnflag").agg(
        F.round(F.element_at(prices, 1), 4).alias("p50_price"),
        F.round(F.element_at(prices, 2), 4).alias("p90_price"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_qty"),
    )


@register(
    "text_token_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe_ish,
           CAST(len(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_marks
    FROM documents
    """,
    doc="BPE-ish token counting: words + standalone punctuation marks as "
        "separate tokens (the cheap proxy for subword token budgets), "
        "expression-level regexp_extract_all on both engines.",
)
def text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), F.lit(0))).cast("bigint").alias("n_bpe_ish"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+"), F.lit(0))).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), F.lit(0))).cast("bigint").alias("n_marks"),
    )


# ---------------------------------------------------------------------------
# Scrape-stage work list (S3+S4): config cross product -> formatted base
# urls -> page-indexed crawl frontier. Oracle = golden VALUES computed by an
# independent str.format reimplementation of the reference's load_configs/
# update_url (main.py:22-39,49-58).
# ---------------------------------------------------------------------------

from ..sources import scrape as _SC  # noqa: E402

_SCRAPE_CONFIG = {
    "base_url": "https://www.glassdoor.co.uk/Job/{country}-{search_term}-jobs-SRCH_IL.0,{country_code},{str_length}.htm",
    "search_terms": ["data-scientist", "data-engineer"],
    "locations": {"all": "SRCH_KO0", "remote": "6_IS11048_KO7", "singapore": "9_IC3235921_KO10"},
}
_SCRAPE_PAGES = 2


def _scrape_worklist_golden() -> str:
    rows = []
    for term in _SCRAPE_CONFIG["search_terms"]:
        for loc, code in _SCRAPE_CONFIG["locations"].items():
            base = _SCRAPE_CONFIG["base_url"].format(
                country=loc, search_term=term, country_code=code,
                str_length=len(loc) + len(term) + 1,
            )
            for page in range(1, _SCRAPE_PAGES + 1):
                url = base.replace(".htm", f"_IP{page}.htm")
                rows.append(f"('{term}', '{loc}', CAST({page} AS INT), '{url}')")
    return ", ".join(rows)


@register(
    "scrape_url_worklist",
    oracle="SELECT * FROM (VALUES "
    + _scrape_worklist_golden()
    + ") AS t(search_term, location, page, url)",
    doc="S4+S3 (main.py:22-39,49-58): the crawl frontier as a DataFrame — "
        "search_terms x locations cross join, template slots compiled to a "
        "concat expression (any slot order), page index rewritten into the "
        "url. The fetch stage (S1) consumes exactly this work list.",
)
def scrape_url_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    worklist = _SC.base_url_worklist(spark, _SCRAPE_CONFIG)
    return _SC.paginate(worklist, _SCRAPE_PAGES).select(
        "search_term", "location", "page", "url"
    )


# ---------------------------------------------------------------------------
# The clean stage END-TO-END through the CSV source path: glob scan ->
# filename-derived job_position -> full cleaner transform set -> typed
# output. This is the reference's daily `python cleaner.py` run as one plan.
# ---------------------------------------------------------------------------

@register(
    "cleaner_csv_end_to_end",
    oracle="""
    SELECT * FROM (VALUES
        ('data scientist', 'Checkout Ltd', 4.7, 'GBP', 68750, 93750, 1001, 5000),
        ('data scientist', 'Acme Analytics', 4.2, 'USD', 120000, 120000, 201, 500),
        ('machine learning engineer', 'Deepforge', 4.9, 'CHF', 110000, 140000, 51, 200),
        ('machine learning engineer', 'Tiny Shop', 3.5, 'USD', 52200, 52200, 1, 50)
    ) AS t(job_position, company_name, company_rating, currency,
           min_estimated_salary, max_estimated_salary,
           company_size_min, company_size_max)
    """,
    doc="S5+S6+F1-F6+J3 composed (the whole data-cleaner/cleaner.py run): "
        "schema'd CSV glob -> job_position from filename -> rating/size/"
        "salary parsing with FX broadcast join (GBP 0.8: 55000/0.8=68750; "
        "CHF 1.0; Per-Hour 25*8*261=52200). Golden VALUES = hand-derived "
        "expected outputs for the checked-in fixture rows.",
)
def cleaner_csv_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _read_scraped_csv(spark, _CSV_FIXTURE_GLOB)
    jobs = raw.select(
        "job_position",
        F.col("companyName").alias("company_name"),
        F.col("company_starRating").alias("company_rating"),
        F.col("estimated_salary").alias("company_estimated_salary"),
        "company_size",
    )
    rates = _rates_dim(spark, {"USD": 1.0, "GBP": 0.8, "EUR": 0.9, "CHF": 1.0})
    cleaned = _clean_jobs(jobs, rates)
    return cleaned.select(
        "job_position",
        "company_name",
        "company_rating",
        "currency",
        "min_estimated_salary",
        "max_estimated_salary",
        "company_size_min",
        "company_size_max",
    )


# ---------------------------------------------------------------------------
# IVF ANN: the data-adaptive counterpart of the hyperplane-LSH path. The
# oracle replays centroid assignment (L2 argmin with double-cast element
# math, rounded to 6 before ranking) and in-cell cosine scoring in SQL.
# ---------------------------------------------------------------------------

from ..operators.similarity import ivf_topk as _ivf_topk  # noqa: E402

_IVF_CENTS = "(0, 7, 14, 21, 28, 35, 42, 49)"
_IVF_L2 = (
    "round(sqrt(list_sum(["
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) "
    "FOR i IN range(1, 65)])), 6)"
)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {_IVF_CENTS}
    ),
    ca AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_IVF_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, cid AS cell FROM (
            SELECT e.vec_id AS q_id, e.embedding AS qv, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_IVF_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id < 5) x
        WHERE r <= 2
    ),
    scored AS (
        SELECT qa.q_id, ca.vec_id,
               round(list_dot_product(ca.embedding, qa.qv) /
                     (sqrt(list_dot_product(ca.embedding, ca.embedding)) *
                      sqrt(list_dot_product(qa.qv, qa.qv))), 4) AS cos
        FROM ca JOIN qa USING (cell)
    )
    SELECT q_id, vec_id, cos, rank FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored) x
    WHERE rank <= 5
    """,
    doc="IVF ANN top-5: corpus vectors assigned to their nearest of 8 "
        "fixed-id centroids (L2 argmin, deterministic ties), queries probe "
        "their 2 nearest cells, exact cosine only within probed cells. At "
        "100 TB the corpus is written partitioned by cell; a query reads "
        "nprobe partitions.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    return _ivf_topk(emb, q, k=5, nprobe=2, cos_round=4)


# ---------------------------------------------------------------------------
# Custom stateful streaming (applyInPandasWithState)
# ---------------------------------------------------------------------------

from contextlib import contextmanager as _contextmanager  # noqa: E402


@_contextmanager
def _stream_state_partitions(spark: SparkSession, n: int = 8):
    """Scope the stream's STATE STORE count: a stateful streaming query
    creates one state store (+ checkpoint directory, per-batch commit)
    per shuffle partition, fixed at first run. 32 stores for a test-scale
    stream means the per-batch fixed cost is 4x the useful work — measured
    5.5 -> 2.8 s on the attribution join at sf0.1. Sized to stream volume
    here (8); a 100 TB/day deployment sizes it to executor-cores x 2 the
    same way. Restored after the run; batch reads of the result are
    unaffected."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


_STREAM_SRC_CACHE: dict[tuple[int, str, bool], str] = {}


def _stream_events_src(spark: SparkSession, sf_dir: str, planted_dups: bool = False) -> str:
    """The file-source directory for streaming queries: the events table
    (ts as a zoned timestamp, one file -> one deterministic micro-batch),
    optionally with planted exact duplicates. Memoized per (session,
    sf_dir): the fixture is a deterministic function of its inputs, and a
    real incremental pipeline reads a source that already exists — the
    streaming queries should time the STREAM RUN, not a fixture rewrite."""
    import os
    import tempfile

    key = (id(spark), sf_dir, planted_dups)
    cached = _STREAM_SRC_CACHE.get(key)
    # existence check guards both tmp-reaper cleanup and the (remote) case
    # of a recycled id() aliasing a dead session's entry
    if cached is not None and os.path.isdir(cached):
        return cached

    # scratch key must carry every memo-key dimension that changes the
    # fixture CONTENT (dup planting, scale factor) — a shared key would let
    # one variant wipe-and-replace the directory the other's memo entry
    # still points at.
    import hashlib

    variant = "dups" if planted_dups else "plain"
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    src = _scratch_dir(f"stream_src_{variant}_{sf_tag}") + "/events_src"
    ev = table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    if planted_dups:
        ev = ev.unionByName(ev.filter(F.col("event_id") % 10 == 0))
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    _STREAM_SRC_CACHE[key] = src
    return src


@register(
    "streaming_sessionize_stateful",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events),
    sess AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked),
    agg AS (
        SELECT user_id, sid, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY user_id, sid),
    wm AS (SELECT max(ts) - INTERVAL 1 SECOND AS horizon FROM events)
    SELECT user_id, session_start, session_end, CAST(n_events AS BIGINT) AS n_events
    FROM agg, wm
    WHERE sid < (SELECT max(s2.sid) FROM agg s2 WHERE s2.user_id = agg.user_id)
       OR session_end + INTERVAL 30 MINUTE < horizon
    """,
    doc="Custom stateful streaming sessionization (applyInPandasWithState + "
        "EventTimeTimeout): a session row is emitted exactly once — closed "
        "in-flight by a gap-exceeding successor event, or by state timeout "
        "when the watermark passes last_ts + gap. The fn runs a real "
        "AvailableNow streaming job (file source -> stateful op -> memory "
        "sink); the oracle replays the emission rule in SQL: every "
        "non-final session, plus final sessions whose gap horizon lies "
        "strictly below the final watermark (max ts - 1s delay). State is "
        "O(active users); closed keys are removed from the store.",
)
def streaming_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from ..streaming.pipelines import available_now_to_memory, read_events_stream
    from ..streaming.stateful import sessionize_stateful

    src = _stream_events_src(spark, sf_dir)
    name = "sess_stateful_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        available_now_to_memory(
            sessionize_stateful(read_events_stream(spark, src)),
            name,
            _scratch_dir("sess_stateful") + "/ckpt",
            output_mode="append",
        )
    return spark.table(name).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Deterministic sampling + hamming-band SimHash pairs + the composed corpus
# curation pipeline — the training-data-pipeline extension surface. Every
# draw/signature is md5-based so the oracle replays the exact row sets.
# ---------------------------------------------------------------------------

from ..operators import sampling as _SMP  # noqa: E402


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
    {_sql_shingles('corpus')},
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
    WITH {_SQL_CORPUS},
    t AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM corpus
    ),
    scored AS (
        SELECT doc_id, text, toks, {", ".join(_LANGID_SQL_SCORES)}
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
    corpus = _planted_corpus(spark, sf_dir)
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


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY 1
    """,
    doc="Price histogram: fixed-width binning (floor of price/5000) with "
        "per-bin counts and quantity mass — the scan-then-one-hash-agg "
        "profile shape. Quantities are whole numbers so the double sum is "
        "exact and order-independent.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_extendedprice") / F.lit(5000.0)).cast("bigint").alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Pretraining-filter text analysis: within-doc repetition, PII redaction
# (planted PII so the scrub is observable), TF-IDF salient terms.
# ---------------------------------------------------------------------------

@register(
    "text_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
                    ELSE [] END AS grams
        FROM t
    )
    SELECT doc_id,
           CASE WHEN len(grams) > 0
                THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4)
                ELSE 0.0 END AS rep_ratio
    FROM g
    """,
    doc="Within-document repetition ratio (1 - distinct/total word 3-grams) "
        "— the Gopher-style templated-text signal, expression-only and "
        "usable as a pushed-down corpus filter.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: one-split scan, tokenize+ngram+ratio is the whole cost (r12)
    docs = fan_out(table(spark, sf_dir, "documents"), "doc_id")
    # pre-project the gram array so tokenize+shingle runs once per row
    # (multi-referenced alias survives CollapseProject): 8s -> 2.7s at sf0.1
    grams = docs.select(
        "doc_id", _T.word_ngrams(_T.tokenize(F.col("text")), 3).alias("_grams")
    )
    return grams.select(
        "doc_id",
        F.round(_T.repetition_ratio_of_grams(F.col("_grams")), 4).alias("rep_ratio"),
    )


# The synthetic corpus contains no real PII, so the redaction query PLANTS a
# deterministic contact line per doc (email / phone / IP round-robin by
# doc_id) and scrubs it — the same construction on both engines, like the
# planted-duplicate corpora.
def _pii_suffix_spark() -> F.Column:
    # built lazily: Column construction needs an active SparkContext
    return (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" contact bob.smith+hr@example-careers.com now"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" call +1 415 555 0100 today"))
        .otherwise(F.lit(" server 10.42.7.19 logged it"))
    )


_PII_SUFFIX_SQL = """CASE
    WHEN doc_id % 3 = 0 THEN ' contact bob.smith+hr@example-careers.com now'
    WHEN doc_id % 3 = 1 THEN ' call +1 415 555 0100 today'
    ELSE ' server 10.42.7.19 logged it' END"""


@register(
    "text_pii_redact",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                   '\\+?\\d[\\d -]{{7,}}\\d', '<PHONE>', 'g'),
               '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g') AS redacted
    FROM planted
    """,
    doc="PII redaction pass (email -> phone -> IPv4 regexp_replace chain, "
        "RE2/Java-compatible patterns) over a corpus with deterministically "
        "planted contact lines. The scrub is a map-side expression chain — "
        "streaming-safe, no UDF.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), _pii_suffix_spark()).alias("text")
    )
    return planted.select(
        "doc_id", _T.redact_pii(F.col("text")).alias("redacted")
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents) u
        GROUP BY doc_id, tok
    ),
    idf AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df), 4) AS score
        FROM tf JOIN idf USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, score, rank FROM (
        SELECT doc_id, tok, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, tok) AS rank
        FROM scored) x
    WHERE rank <= 3
    """,
    doc="Top-3 TF-IDF terms per document: token-frequency agg, "
        "document-frequency agg (|vocab| rows -> AQE broadcasts it), corpus "
        "size via a broadcast 1-row cross join (never a driver collect), "
        "score rounded BEFORE ranking so cross-engine ln() ulp noise cannot "
        "flip ranks, deterministic tok tiebreak. Two shuffles total (tf agg "
        "+ per-doc window).",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    idf = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(idf, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Transitive near-dup clustering: LSH-verified pairs as edges -> iterative
# min-label propagation (Spark) vs WITH RECURSIVE reachability (oracle) —
# an oracle-checked ITERATIVE algorithm.
# ---------------------------------------------------------------------------

_CC_CAP = 1000


def _sql_capped_corpus(cap: int) -> str:
    return f"""
base AS (SELECT doc_id, text FROM documents WHERE doc_id < {cap}),
corpus AS (
    SELECT doc_id, text FROM base
    UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM base
    UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' qq xq zq' AS text FROM base
)"""


def _capped_planted(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < cap)
    exact = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq xq zq")).alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_sql_capped_corpus(_CC_CAP)}, {_sql_shingles('corpus')},
    {_SQL_SIG}, {_SQL_BANDED_CAND},
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
        f"corpus bounded to base doc_id < {_CC_CAP}.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # draws the session memo (r11): representatives runs the IDENTICAL
    # near_dedup_clusters build — one signature/candidate/verify/iterate
    # pass per session serves both
    return _planted_dedup_artifact(spark, sf_dir, "capped_clusters")


# ---------------------------------------------------------------------------
# SQL-surface depth: rank-family windows, explicit GROUPING SETS, and
# time-series gap fill (the hypertable-rollup shape: dense hourly grid with
# zeros where no events landed).
# ---------------------------------------------------------------------------

@register(
    "window_rank_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(o_orderkey) OVER w AS cheapest_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
    doc="The rank-family window functions (ntile / percent_rank / cume_dist "
        "/ first_value) per customer on a deterministic (price, orderkey) "
        "order — one shuffle on the partition key, every rank definition "
        "exact-rational so cross-engine doubles are bit-identical.",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_order"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
           l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS (finer than rollup/cube: an arbitrary "
        "combination list) with a grouping-id disambiguating real NULLs "
        "from subtotal rows — single pass, one shuffle, partial aggregation "
        "per set handled by Catalyst's Expand.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    li = table(spark, sf_dir, "lineitem")
    # Unique per-call view name: a fixed name would collide between
    # concurrent callers sharing one SparkSession. The view is dropped as
    # soon as spark.sql() has ANALYZED the query (resolution is eager even
    # though execution is lazy), so nothing leaks into the catalog.
    view = f"_gs_lineitem_{uuid.uuid4().hex[:12]}"
    li.createOrReplaceTempView(view)
    try:
        return li.sparkSession.sql(
            f"""
            SELECT CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
                   l_returnflag, l_linestatus,
                   count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
            FROM {view}
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
            """
        )
    finally:
        li.sparkSession.catalog.dropTempView(view)


@register(
    "events_gapfill_hourly",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT t.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    ),
    agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour, coalesce(a.n, 0) AS n,
           coalesce(a.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.hour = g.hour
    """,
    doc="Hourly gap fill (the hypertable/time_bucket_gapfill shape): dense "
        "(event_type x hour) grid via sequence() between the corpus bounds, "
        "left join the rollup, zero-fill the holes. The grid is generated "
        "from a broadcast 1-row bounds frame x tiny type dim — no driver "
        "loop; at 100 TB only the rollup side scales and the join stays "
        "broadcast.",
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    types = ev.select("event_type").distinct().coalesce(1)
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour"),
    )
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    return (
        grid.join(agg, ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.col("hour").cast("timestamp_ntz").alias("hour"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Value-based window frames, order-independent exact-moment statistics, and
# edit-distance dedup verification.
# ---------------------------------------------------------------------------

@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS spend_7d
    FROM orders
    """,
    doc="Value-based RANGE frame: trailing-7-day spend per customer over "
        "the order-date day number — every order in the window, including "
        "same-day ties, regardless of row count (a ROWS frame cannot "
        "express this). One shuffle on the partition key.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").withColumn(
        "_day", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    )
    w = Window.partitionBy("o_custkey").orderBy("_day").rangeBetween(-6, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_7d"),
    )


@register(
    "agg_moments_exact",
    oracle="""
    WITH d AS (
        SELECT l_returnflag,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS px,
               CAST(l_quantity AS DECIMAL(18,2)) AS qty
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum(px) AS DOUBLE) AS sx, CAST(sum(px * px) AS DOUBLE) AS sxx,
               CAST(sum(qty) AS DOUBLE) AS sy, CAST(sum(qty * qty) AS DOUBLE) AS syy,
               CAST(sum(px * qty) AS DOUBLE) AS sxy
        FROM d GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(sx / n, 4) AS price_mean,
           round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 4) AS price_stddev,
           round((n * sxy - sx * sy) /
                 (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS price_qty_corr
    FROM s
    """,
    doc="Mean / sample stddev / correlation per return flag computed from "
        "EXACT decimal sums (sum/sum-of-squares/cross-sum in DECIMAL(18,2) "
        "arithmetic), with the floating-point math applied once at the end. "
        "Native stddev/corr aggregates sum doubles in partition order — "
        "nondeterministic across engines AND across Spark runs; exact "
        "moments make the statistics bit-stable at any parallelism. Single "
        "hash aggregate, map-side partials intact.",
)
def agg_moments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("px"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("px").cast("double").alias("sx"),
        F.sum(F.col("px") * F.col("px")).cast("double").alias("sxx"),
        F.sum("qty").cast("double").alias("sy"),
        F.sum(F.col("qty") * F.col("qty")).cast("double").alias("syy"),
        F.sum(F.col("px") * F.col("qty")).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.col("sx") / n, 4).alias("price_mean"),
        F.round(F.sqrt(var_x / (n * (n - F.lit(1.0)))), 4).alias("price_stddev"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.sqrt(var_x) * F.sqrt(var_y)),
            4,
        ).alias("price_qty_corr"),
    )


@register(
    "dedup_edit_distance_verify",
    oracle=f"""
    WITH {_sql_capped_corpus(_CC_CAP)}, {_sql_shingles('corpus')},
    {_SQL_SIG}, {_SQL_BANDED_CAND}
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
        f"length. Demo corpus bounded to base doc_id < {_CC_CAP}.",
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # capped corpus from the session memo (r11) — three consumers here
    # (signatures + the id_a/id_b text probes) and the cluster pair's
    # builds all read the one checkpointed frame
    corpus = _planted_dedup_artifact(spark, sf_dir, "capped_corpus")
    sigs = _D.minhash_signatures(corpus, num_hashes=_NDD_HASHES)
    cands = _D.lsh_candidate_pairs(
        sigs, bands=_NDD_BANDS, rows_per_band=_NDD_RPB
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


@register(
    "text_winnow_fingerprints",
    oracle="""
    WITH hs AS (
        SELECT doc_id,
               [substring(md5(lower(text)[i:i+4]), 1, 8)
                FOR i IN range(1, length(text) - 5 + 2)] AS h
        FROM documents
        WHERE length(text) >= 5 AND doc_id < 2000
    )
    SELECT doc_id, unnest(list_distinct(
               [list_min(h[j:j+3]) FOR j IN range(1, len(h) - 4 + 2)]
           )) AS fingerprint
    FROM hs
    WHERE len(h) >= 4
    """,
    doc="Winnowing fingerprints (the MOSS rolling-hash scheme): char 5-gram "
        "md5 prefixes, sliding 4-window minimum, distinct selected mins per "
        "doc — position-robust local fingerprints that localize copied "
        "spans (any shared substring >= 8 chars yields a shared "
        "fingerprint). String-min over hex so both engines replay the "
        "selection without integer conversion. Fully map-side/shuffle-free "
        "(an explode+window-min form is 2x faster locally but shuffles the "
        "whole position stream — the wrong trade at 100 TB). Demo bounded "
        "to doc_id < 2000.",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: one-split scan, and winnowing's per-char k-gram/window mins
    # are the whole cost — spread before the map stage (r12)
    docs = fan_out(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000), "doc_id"
    )
    return _D.winnow_fingerprints(docs, k=5, w=4)


# ---------------------------------------------------------------------------
# Training-data pipeline: splits, packing, decontamination, LM scoring
# ---------------------------------------------------------------------------

from ..operators import decontam as _DC  # noqa: E402

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
    "text_unigram_logprob",
    oracle="""
    WITH tk AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents) x
        WHERE tok <> ''
    ), vocab AS (
        SELECT tok, count(*) AS cnt FROM tk GROUP BY tok
    ), tot AS (
        SELECT count(*) AS total FROM tk
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(ln(CAST(total AS DOUBLE) / cnt)), 4) AS avg_nll
    FROM tk JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="Unigram-LM document scoring (the CCNet/CC-style statistical quality "
        "filter): fit token frequencies over the corpus itself, score each "
        "doc by mean negative log-probability of its tokens — low = "
        "boilerplate/repetitive, high = rare-token gibberish; filter both "
        "tails. Two hash aggregations plus one shuffle join on token; the "
        "1-row total broadcasts. No UDF anywhere.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.explode(_T.tokenize(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = tk.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        tk.join(vocab, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("total").cast("double") / F.col("cnt"))), 4).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Round-3 surface: scale-safe percentiles, the remaining streaming operators
# as oracle-checked queries, the sink write->newest-partition->read round
# trip, hot-key-only salted joins, and a REAL image-codec decode path.
# ---------------------------------------------------------------------------

@register(
    "agg_percentiles_approx",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
           true AS approx_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="The 100 TB percentile path: approx_percentile (Greenwald-Khanna "
        "sketch, state bounded by the accuracy parameter — never buffers "
        "the group's values) verified IN-PLAN against the exact "
        "interpolated percentile with a 0.5% relative tolerance. The "
        "oracle pins the exact values (DuckDB quantile_cont, same "
        "definition as Spark percentile()) and the tolerance verdict: a "
        "hash match certifies both that the exact values agree across "
        "engines and that the sketch landed inside tolerance. The exact "
        "column exists only in this verification query; the production "
        "operator is the sketch alone (accuracy 10000 -> rank error "
        "<= n/10000, far inside 0.5% value tolerance on these dense "
        "distributions).",
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50_exact"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_exact"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("_p50_a"),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias("_p90_a"),
    )
    tol = 0.005
    return agg.select(
        "l_returnflag",
        "p50_exact",
        "p90_exact",
        (
            (F.abs(F.col("_p50_a") - F.col("p50_exact")) <= F.lit(tol) * F.abs(F.col("p50_exact")))
            & (F.abs(F.col("_p90_a") - F.col("p90_exact")) <= F.lit(tol) * F.abs(F.col("p90_exact")))
        ).alias("approx_within_tol"),
    )


@register(
    "streaming_dedup_events",
    oracle="""
    SELECT event_id, user_id, ts, event_type, round(value, 2) AS value
    FROM events
    """,
    doc="dropDuplicatesWithinWatermark as an oracle-checked streaming run: "
        "the source directory holds the events table PLUS planted exact "
        "duplicates (every 10th event re-appended), a real AvailableNow "
        "file-source stream dedups in flight (state = keys within the "
        "1-hour watermark horizon, evicted after), and the memory-sink "
        "result must hash-match the original duplicate-free table. The "
        "streaming twin of the reference's in-run memo sets (page.py:51, "
        "listing.py:188) with BOUNDED state.",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from ..streaming.pipelines import (
        available_now_to_memory,
        dedup_events_stream,
        read_events_stream,
    )

    src = _stream_events_src(spark, sf_dir, planted_dups=True)
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        available_now_to_memory(
            dedup_events_stream(read_events_stream(spark, src)),
            name,
            _scratch_dir("stream_dedup") + "/ckpt",
            output_mode="append",
        )
    return spark.table(name).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        F.round("value", 2).alias("value"),
    )


@register(
    "streaming_view_click_attribution",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           v.ts AS view_ts, c.ts AS click_ts
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
    doc="Stream-stream interval join, oracle-checked: each click attributed "
        "to prior views by the same user within 30 minutes, run as a real "
        "AvailableNow job (file source -> watermarked interval join -> "
        "memory sink). The two-sided event-time bound is what lets Spark "
        "size and EVICT the join state buffers — the append-mode "
        "stream-stream-join contract; the oracle replays the identical "
        "interval join in batch SQL.",
)
def streaming_view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from ..streaming.pipelines import (
        available_now_to_memory,
        read_events_stream,
        view_click_attribution_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    name = "stream_attr_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        available_now_to_memory(
            view_click_attribution_stream(read_events_stream(spark, src)),
            name,
            _scratch_dir("stream_attr") + "/ckpt",
            output_mode="append",
        )
    return spark.table(name)


@register(
    "sink_roundtrip_newest_partition",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderkey % 3 <> 0
    GROUP BY o_orderstatus
    """,
    doc="The write path under the correctness gate (S10+S7): two daily "
        "batches append to a run_date-partitioned parquet dataset "
        "(sources/sinks.write_partitioned_parquet), then "
        "read_newest_partition prunes to the latest run via a partition "
        "filter (metadata only — older directories are never scanned) and "
        "aggregates it. The oracle recomputes the newest batch straight "
        "from the source rows, so a hash match certifies the full "
        "write -> partition-discover -> pruned-read round trip.",
)
def sink_roundtrip_newest_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sources.readers import read_newest_partition
    from ..sources.sinks import write_partitioned_parquet

    base = _scratch_dir("sink_rt") + "/orders_daily"
    orders = table(spark, sf_dir, "orders")
    run1 = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "run_date", F.lit("2024-05-01")
    )
    run2 = orders.filter(F.col("o_orderkey") % 3 != 0).withColumn(
        "run_date", F.lit("2024-05-02")
    )
    write_partitioned_parquet(run1, base, ("run_date",), mode="append")
    write_partitioned_parquet(run2, base, ("run_date",), mode="append")
    newest = read_newest_partition(spark, base, "run_date")
    return newest.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


from ..operators.skew import detect_hot_keys as _detect_hot_keys  # noqa: E402
from ..operators.skew import salted_join_hotkeys as _salted_join_hotkeys  # noqa: E402


@register(
    "join_salted_hotkeys",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events,
           round(avg(e.value), 4) AS avg_value,
           round(sum(c.c_acctbal), 2) AS sum_acctbal
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Hot-key-only salted join (operators/skew.salted_join_hotkeys): an "
        "exact narrow-column count finds keys with > 20 fact rows "
        "(detect_hot_keys; the sampled variant trades that scan for an "
        "estimate), only those keys' dim rows replicate over the salt "
        "domain — dim expansion |dim| + (salt-1)*|hot| instead of "
        "salt*|dim| — and cold rows join unsalted. The oracle is the plain "
        "unsalted join: the result is provably identical whatever the "
        "detected hot set, so correctness never depends on the estimate.",
)
def join_salted_hotkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    hot = _detect_hot_keys(ev, "c_custkey", min_count=20)
    joined = _salted_join_hotkeys(ev, c, "c_custkey", "event_id", hot, salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


# --- real-codec image decode, golden-checked -------------------------------
# Deterministic BMP fixtures: pixel (x, y) -> BGR ((x*7+y*13)%256, (x*3+1)%256,
# (y*5+2)%256). The oracle's golden histograms come from an INDEPENDENT
# pure-python (no numpy, no BMP parsing) luminance accumulation over the same
# pixel function — the Spark side must parse the actual BMP bytes (bottom-up
# rows, stride padding) to reproduce them.

_BMP_FIXTURES = (("gradient_9x5.bmp", 9, 5), ("gradient_16x16.bmp", 16, 16),
                 ("gradient_33x7.bmp", 33, 7))


def _bmp_pixel(x: int, y: int) -> tuple[int, int, int]:
    return ((x * 7 + y * 13) % 256, (x * 3 + 1) % 256, (y * 5 + 2) % 256)


def _bmp_bytes(width: int, height: int) -> bytes:
    """A real BI_RGB 24-bit BMP file for the fixture pixels (bottom-up rows,
    rows padded to 4 bytes) — built with struct only."""
    import struct as _struct

    stride = (width * 3 + 3) // 4 * 4
    pixel_data = bytearray()
    for row in range(height - 1, -1, -1):  # bottom-up storage
        for x in range(width):
            pixel_data += bytes(_bmp_pixel(x, row))
        pixel_data += b"\x00" * (stride - width * 3)
    header = _struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
    info = _struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                        len(pixel_data), 2835, 2835, 0, 0)
    return bytes(header + info + pixel_data)


def _bmp_golden_histogram(width: int, height: int) -> list[float]:
    bins = [0] * 8
    for y in range(height):
        for x in range(width):
            b, g, r = _bmp_pixel(x, y)
            lum = int(0.299 * r + 0.587 * g + 0.114 * b)  # uint8 truncation
            bins[lum >> 5] += 1
    total = width * height
    return [round(c / total, 6) for c in bins]


def _bmp_golden_values_sql() -> str:
    rows = []
    for name, w, h in _BMP_FIXTURES:
        hist = _bmp_golden_histogram(w, h)
        fs = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in hist)
        rows.append(f"('{name}', CAST({w} AS INT), CAST({h} AS INT), 'bmp', {fs})")
    return ", ".join(rows)


@register(
    "multimodal_image_decode",
    oracle="SELECT * FROM (VALUES "
    + _bmp_golden_values_sql()
    + ") AS t(file, width, height, format, f0, f1, f2, f3, f4, f5, f6, f7)",
    doc="REAL image decoding through the production seam: binaryFile scan "
        "over genuine 24-bit BMP files -> real_image_decoder (PIL when "
        "importable, else the dependency-free BMP codec in "
        "sources/multimodal.bmp_image_decoder) -> width/height/format + "
        "8-bin luminance histogram, Arrow-batched via mapInPandas. Golden "
        "oracle: an independent pure-python luminance accumulation over "
        "the fixture pixel function — agreement proves the codec honored "
        "the actual byte layout (bottom-up rows, 4-byte stride padding).",
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.multimodal import (
        decode_image_features,
        read_binary_dir,
        real_image_decoder,
    )

    base = _scratch_dir("bmp_fixtures")
    for name, w, h in _BMP_FIXTURES:
        with open(os.path.join(base, name), "wb") as fh:
            fh.write(_bmp_bytes(w, h))
    blobs = read_binary_dir(spark, base, "*.bmp")
    feats = decode_image_features(blobs, decoder=real_image_decoder)
    return feats.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "width",
        "height",
        "format",
        *[
            F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(8)
        ],
    )


# --- real-codec audio decode, golden-checked -------------------------------
# Deterministic 16-bit PCM WAV fixtures: sample k of file f is the int16
# triangle-ish value ((k * (7 + f)) % 4096 - 2048) * 8. Golden rms/histogram
# come from an INDEPENDENT pure-python accumulation; the Spark side must
# parse the actual RIFF/WAVE container to reproduce them.

_WAV_FIXTURES = (("tone_a.wav", 1, 8000, 1600, 7), ("tone_b.wav", 2, 16000, 2400, 11))


def _wav_samples(n: int, mult: int) -> list[int]:
    return [((k * mult) % 4096 - 2048) * 8 for k in range(n)]


def _wav_bytes(n_channels: int, rate: int, n_frames: int, mult: int) -> bytes:
    import io
    import struct as _struct
    import wave as _wave

    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        samples = _wav_samples(n_frames * n_channels, mult)
        w.writeframes(b"".join(_struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def _wav_golden(n_channels: int, n_frames: int, mult: int) -> tuple[float, list[float]]:
    samples = _wav_samples(n_frames * n_channels, mult)
    sq = sum(s * s for s in samples)
    rms = round((sq / len(samples)) ** 0.5 / 32768.0, 6)
    bins = [0] * 8
    for s in samples:
        bins[min(abs(s) >> 12, 7)] += 1
    return rms, [round(c / len(samples), 6) for c in bins]


def _wav_golden_values_sql() -> str:
    rows = []
    for name, nch, rate, n, mult in _WAV_FIXTURES:
        rms, hist = _wav_golden(nch, n, mult)
        fs = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in hist)
        rows.append(
            f"('{name}', CAST({nch} AS INT), CAST({rate} AS INT), CAST({n} AS INT), "
            f"'wav', CAST({rms!r} AS DOUBLE), {fs})"
        )
    return ", ".join(rows)


@register(
    "multimodal_audio_decode",
    oracle="SELECT * FROM (VALUES "
    + _wav_golden_values_sql()
    + ") AS t(file, n_channels, sample_rate, n_samples, format, rms, f0, f1, f2, f3, f4, f5, f6, f7)",
    doc="REAL audio decoding: binaryFile scan over genuine 16-bit PCM WAV "
        "files -> sources/multimodal.wav_audio_decoder (stdlib wave + "
        "numpy; exact-int64 squared-sample sum so rms is bit-replayable) "
        "-> channels/rate/frames + rms + 8-bin |amplitude| histogram, "
        "Arrow-batched via mapInPandas. Golden oracle: an independent "
        "pure-python accumulation over the fixture sample formula.",
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.multimodal import decode_audio_features, read_binary_dir

    base = _scratch_dir("wav_fixtures")
    for name, nch, rate, n, mult in _WAV_FIXTURES:
        with open(os.path.join(base, name), "wb") as fh:
            fh.write(_wav_bytes(nch, rate, n, mult))
    blobs = read_binary_dir(spark, base, "*.wav")
    feats = decode_audio_features(blobs)
    return feats.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "n_channels",
        "sample_rate",
        "n_samples",
        "format",
        "rms",
        *[
            F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "streaming_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Watermarked tumbling-window aggregation as a real streaming run "
        "(file source -> 1h windows + 2h watermark -> AvailableNow -> "
        "memory sink, complete mode so unfinalized windows emit in the "
        "finite replay): the streaming twin of events_hourly_rollup, now "
        "under the hash gate rather than only stream-equals-batch pytest. "
        "At 100 TB/day the watermark is what bounds window state: closed "
        "windows evict instead of accumulating forever.",
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from ..streaming.pipelines import (
        available_now_to_memory,
        hourly_rollup_stream,
        read_events_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    name = "stream_rollup_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        available_now_to_memory(
            hourly_rollup_stream(read_events_stream(spark, src)),
            name,
            _scratch_dir("stream_rollup") + "/ckpt",
            output_mode="complete",
        )
    return spark.table(name)


@register(
    "text_bigram_logprob",
    oracle="""
    WITH tk AS (
        SELECT doc_id, pos, tok FROM (
            SELECT doc_id,
                   generate_subscripts(t, 1) AS pos, unnest(t) AS tok
            FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM documents) x) u
        WHERE tok <> ''
    ), bg AS (
        SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, tok
        FROM tk
        QUALIFY prev IS NOT NULL
    ), heads AS (
        SELECT prev, count(*) AS c1 FROM bg GROUP BY prev
    ), pairs AS (
        SELECT prev, tok, count(*) AS c2 FROM bg GROUP BY prev, tok
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(CAST(c1 AS DOUBLE) / c2)), 4) AS avg_nll
    FROM bg JOIN heads USING (prev) JOIN pairs USING (prev, tok)
    GROUP BY bg.doc_id
    """,
    doc="Bigram-LM document scoring — the conditional-probability upgrade "
        "of text_unigram_logprob (the CCNet-style LM quality filter, fit "
        "on the corpus itself so it stays exactly computable): per doc, "
        "mean -ln p(w_i | w_{i-1}) with MLE conditionals c(w1,w2)/c(w1). "
        "Low = repetitive boilerplate, high = incoherent token soup; "
        "filter both tails. Plan: one posexplode, one window lag per doc, "
        "two hash aggregations, two shuffle joins on the token key — no "
        "UDF, no driver state; at 100 TB the bigram count tables are the "
        "only global state and they are orders smaller than the corpus.",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "doc_id", F.posexplode(_T.tokenize(F.col("text"))).alias("pos", "tok")
        )
        .filter(F.col("tok") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tk.withColumn("prev", F.lag("tok").over(w))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "prev", "tok")
    )
    heads = bg.groupBy("prev").agg(F.count("*").alias("c1"))
    pairs = bg.groupBy("prev", "tok").agg(F.count("*").alias("c2"))
    return (
        bg.join(heads, "prev")
        .join(pairs, ["prev", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c1").cast("double") / F.col("c2"))), 4).alias("avg_nll"),
        )
    )


@register(
    "agg_unpivot_metrics",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(avg(l_discount), 4) AS avg_disc
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM b
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM b
    UNION ALL
    SELECT l_returnflag, 'avg_disc' AS metric, avg_disc AS value FROM b
    """,
    doc="Unpivot/melt — the inverse of the rank->column pivot the "
        "reference publishes (W2): wide per-group metrics to long "
        "(group, metric, value) rows via DataFrame.unpivot, which Catalyst "
        "plans as a single Expand (one pass, no join, no shuffle beyond "
        "the feeding aggregate). The long form is what metric stores and "
        "plotting layers ingest. Oracle replays as UNION ALL per metric.",
)
def agg_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )
    return base.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "avg_disc"], "metric", "value"
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
    {_sql_shingles('corpus')}, {_SQL_SIG}, {_SQL_BANDED_CAND},
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
    sigs = _D.minhash_signatures(union_c, num_hashes=_NDD_HASHES)
    cands = _D.lsh_candidate_pairs(sigs, bands=_NDD_BANDS, rows_per_band=_NDD_RPB)
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
    {_sql_shingles('corpus')}, {_SQL_SIG}, {_SQL_BANDED_CAND},
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
    state_path = _os_path.join(_scratch_dir("dedup_state_roundtrip"), "band_state")

    # RUN 1 (corpus ingest): build and persist the band index. Partitioned
    # by band so a probe scans only matching band partitions; at 100 TB
    # this write happens once per corpus, not once per batch.
    _D.band_table(
        _D.minhash_signatures(hist, num_hashes=_NDD_HASHES), rows_per_band=_NDD_RPB
    ).write.mode("overwrite").partitionBy("band").parquet(state_path)

    # RUN 2 (batch arrival): fresh lineage — the ONLY link to run 1 is the
    # parquet state table. Only the batch is shingled/hashed here.
    state = spark.read.parquet(state_path)
    batch_bands = _D.band_table(
        _D.minhash_signatures(batch, num_hashes=_NDD_HASHES), rows_per_band=_NDD_RPB
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
    WITH RECURSIVE {_sql_capped_corpus(_CC_CAP)}, {_sql_shingles('corpus')},
    {_SQL_SIG}, {_SQL_BANDED_CAND},
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
        f"recursive-SQL reachability. Demo corpus bounded to base doc_id < {_CC_CAP}.",
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both frames from the session memo (r11): the clusters build is
    # identical to dedup_components' — one pass per session serves both
    corpus = _planted_dedup_artifact(spark, sf_dir, "capped_corpus")
    clusters = _planted_dedup_artifact(spark, sf_dir, "capped_clusters")
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


@register(
    "streaming_incremental_parquet",
    oracle="""
    SELECT event_id, user_id, ts, event_type, round(value, 2) AS value
    FROM events
    """,
    doc="The incremental-ingest write path under the hash gate: a real "
        "AvailableNow run writes the events stream to a parquet sink with "
        "a checkpoint, then a SECOND run against the same checkpoint "
        "processes nothing (exactly-once: the files are already "
        "committed), and the sink directory is read back and must "
        "hash-match the source table — proving both the streamed write "
        "and that the re-run added no duplicate rows. This is the "
        "cron-shaped daily catch-up the reference implements with "
        "date-stamped S3 objects, with Spark owning the bookkeeping.",
)
def streaming_incremental_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming.pipelines import available_now_to_parquet, read_events_stream

    src = _stream_events_src(spark, sf_dir)
    base = _scratch_dir("stream_sink")
    out, ckpt = base + "/out", base + "/ckpt"
    with _stream_state_partitions(spark):
        for _ in range(2):  # second run: same checkpoint, no new files -> no rows
            available_now_to_parquet(read_events_stream(spark, src), out, ckpt)
    return spark.read.parquet(out).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        F.round("value", 2).alias("value"),
    )


@register(
    "sink_roundtrip_csv",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    doc="S12 under the hash gate: orders written to a CSV sink (header "
        "on, the reference's downstream-compat format) and read back with "
        "an EXPLICIT schema — no inference, the reader contract is typed "
        "— then aggregated; the oracle recomputes from the original "
        "parquet, so the hash certifies a lossless text round trip of "
        "longs, doubles, timestamps, and strings.",
)
def sink_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sources.sinks import write_csv

    orders = table(spark, sf_dir, "orders")
    path = _scratch_dir("csv_rt") + "/orders_csv"
    write_csv(orders, path)
    back = (
        spark.read.option("header", "true")
        .schema(orders.schema)
        .csv(path)
    )
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "setops_intersect_except",
    oracle="""
    SELECT o_custkey, 'both' AS set_op FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
    UNION ALL
    SELECT o_custkey, 'urgent_only' AS set_op FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
    """,
    doc="INTERSECT / EXCEPT — the set-operation family beyond union "
        "(U1-U3): customers placing both urgent and high-priority orders "
        "vs urgent-only, via DataFrame.intersect / subtract (DISTINCT "
        "semantics, planned as left-semi / left-anti aggregates — no "
        "full materialization of either side).",
)
def setops_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    both = urgent.intersect(high).withColumn("set_op", F.lit("both"))
    urgent_only = urgent.subtract(high).withColumn("set_op", F.lit("urgent_only"))
    return both.unionByName(urgent_only)


@register(
    "scalar_array_ops",
    oracle="""
    WITH arr AS (
        SELECT o_orderkey,
               list_sort(list(l_quantity ORDER BY l_linenumber)) AS qs
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderkey)
    SELECT o_orderkey,
           CAST(len(qs) AS INT) AS n_lines,
           round(list_aggregate(qs, 'sum'), 2) AS total_qty,
           qs[1] AS min_qty,
           qs[-1] AS max_qty,
           CAST(len(list_filter(qs, q -> q > 25.0)) AS INT) AS n_large,
           round(list_aggregate(list_transform(qs, q -> q * q), 'sum'), 2) AS sum_sq
    FROM arr
    """,
    doc="Complex-types surface: per-order quantity ARRAYS built with "
        "array_agg, then higher-order functions only — array_sort, "
        "aggregate (fold), filter, transform — all Catalyst lambda "
        "expressions inside whole-stage codegen, no UDF, no explode-"
        "reaggregate round trip (one shuffle for the array build, zero "
        "after). DuckDB replays with list_* equivalents.",
)
def scalar_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    arr = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.array_sort(F.collect_list("l_quantity")).alias("qs"))
    )
    return arr.select(
        "o_orderkey",
        F.size("qs").alias("n_lines"),
        F.round(
            F.aggregate("qs", F.lit(0.0), lambda acc, q: acc + q), 2
        ).alias("total_qty"),
        F.element_at("qs", 1).alias("min_qty"),
        F.element_at("qs", -1).alias("max_qty"),
        F.size(F.filter("qs", lambda q: q > 25.0)).alias("n_large"),
        F.round(
            F.aggregate(
                F.transform("qs", lambda q: q * q), F.lit(0.0), lambda acc, q: acc + q
            ),
            2,
        ).alias("sum_sq"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id)
    SELECT count(*) AS n_view, count(s2.user_id) AS n_click,
           count(s3.user_id) AS n_purchase
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    doc="Ordered funnel (operators/funnel.funnel_steps): users completing "
        "view -> click -> purchase with each step at or after the previous "
        "one — the match_recognize/CEP-shaped question, answered "
        "relationally: per step, one filtered join + min-aggregate on the "
        "user key, state one timestamp per user per step. No per-user "
        "event arrays (the hot-user memory hazard of the collect-and-"
        "regex approach); each stage's frame is a subset of the previous.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_steps

    ev = table(spark, sf_dir, "events")
    f = funnel_steps(ev, ["view", "click", "purchase"])
    return f.agg(
        F.count("*").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, a.wk) // 7 AS BIGINT) AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention (the classic triangle): users grouped by "
        "first-seen week, counted distinct in each subsequent activity "
        "week. Two hash aggregations + one shuffle join on the user key; "
        "week offsets via day arithmetic on week-truncated stamps (exact "
        "multiples of 7 — engine-portable, unlike week-boundary counting). "
        "At 100 TB the first_seen dim is one row per user and the "
        "activity frame is already deduped to (user, week) before the "
        "join, so joined volume is user-weeks, not raw events.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            F.col("cohort").cast("timestamp_ntz").alias("cohort"),
            F.floor(F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


def _events_unique_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right side for as-of queries: one row per (user, ts) — ASOF
    tie-breaking at equal timestamps is engine-defined, so collapse first
    (largest event_id wins, totally ordered)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("event_type", "event_id").alias("event_type"),
            F.max_by("value", "event_id").alias("value"),
        )
    )


@register(
    "join_asof_forward_event",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           e.event_type AS next_event_type,
           round(e.value, 2) AS next_event_value
    FROM orders o
    ASOF LEFT JOIN (
        SELECT user_id, ts,
               max_by(event_type, event_id) AS event_type,
               max_by(value, event_id) AS value
        FROM events GROUP BY user_id, ts) e
      ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate
    """,
    doc="FORWARD as-of join (operators/asof.asof_join direction='forward'):"
        " each order enriched with the customer's EARLIEST event at or "
        "after order time — the next-touch attribution shape. Same "
        "union-and-carry plan as backward, with the frame looking ahead; "
        "oracle is DuckDB's native forward ASOF (inequality flipped).",
)
def join_asof_forward_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    joined = _asof_join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        _events_unique_ts(spark, sf_dir),
        key_left="o_custkey",
        key_right="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        payload_cols=["event_type", "value"],
        direction="forward",
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("event_type").alias("next_event_type"),
        F.round("value", 2).alias("next_event_value"),
    )


@register(
    "join_asof_nearest_tolerance",
    oracle="""
    WITH e AS (
        SELECT user_id, ts,
               max_by(event_type, event_id) AS event_type,
               max_by(value, event_id) AS value
        FROM events GROUP BY user_id, ts)
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           m.event_type AS near_event_type,
           round(m.value, 2) AS near_event_value
    FROM orders o LEFT JOIN LATERAL (
        SELECT e.event_type, e.value
        FROM e
        WHERE e.user_id = o.o_custkey
          AND abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)) <= 2592000000000
        ORDER BY abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)),
                 CASE WHEN e.ts <= o.o_orderdate THEN 0 ELSE 1 END
        LIMIT 1) m ON true
    """,
    doc="NEAREST-within-tolerance as-of join (direction='nearest', "
        "tolerance 30 days): each order takes whichever adjacent event is "
        "closer in time, ties preferring the earlier one (pandas "
        "merge_asof tie rule), matches farther than 30 days nulled. Both "
        "arms share ONE sort — still a single shuffle, no range-join "
        "blow-up. Oracle: LATERAL top-1 by exact microsecond distance "
        "(2592000000000 us = 30 days).",
)
def join_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    joined = _asof_join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        _events_unique_ts(spark, sf_dir),
        key_left="o_custkey",
        key_right="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        payload_cols=["event_type", "value"],
        direction="nearest",
        tolerance="interval 30 days",
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("event_type").alias("near_event_type"),
        F.round("value", 2).alias("near_event_value"),
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


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_exact,
           true AS approx_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="The 100 TB distinct-count path: approx_count_distinct "
        "(HyperLogLog++, fixed-size sketch state, map-side combinable — "
        "never shuffles the distinct values) verified IN-PLAN against the "
        "exact distinct count with a 5% relative tolerance (rsd 0.01, so "
        "5% is many sigma). The oracle pins the exact count and the "
        "tolerance verdict, same pattern as agg_percentiles_approx: exact "
        "count_distinct is the small-cardinality form, the sketch is what "
        "survives a few billion distinct keys.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two separate aggregations, NOT one: a combined
    # count_distinct + approx_count_distinct aggregate makes Catalyst carry
    # the partial HLL sketch (1639 longs at rsd=0.01) through the
    # per-(flag, partkey) dedup shuffle the exact count needs — ~2.4 GB of
    # sketch traffic at sf0.1 (measured 3.6 s). Split, the approx side is
    # the real 100 TB plan (map-side sketches, 32 rows shuffled) and the
    # exact side shuffles narrow rows only; 3-row join joins them back
    # (measured 3.6 s -> ~1 s).
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct(F.col("l_partkey")).alias("n_exact")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("_n_approx")
    )
    agg = exact.join(approx, "l_returnflag")
    return agg.select(
        "l_returnflag",
        "n_exact",
        (
            F.abs(F.col("_n_approx") - F.col("n_exact"))
            <= F.lit(0.05) * F.col("n_exact")
        ).alias("approx_within_tol"),
    )


# ---------------------------------------------------------------------------
# Round-3 widening: TPC-H-style multi-join analytics (Q3/Q14/Q18 shapes),
# subquery forms (EXISTS via left-semi, scalar subquery via broadcast
# 1-row agg), ntile bucketing, MapType scalar surface, Gopher-style
# quality rules, and cross-document common-span (boilerplate) detection.
# ---------------------------------------------------------------------------

@register(
    "tpch_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape (shipping priority): two selective dimension "
        "filters pushed below a 3-way join, grouped revenue, global "
        "top-10. Filters reach the parquet scans (PushedFilters), the "
        "customer side shrinks ~5x before the join, and the final "
        "ORDER+LIMIT is a TakeOrderedAndProject (per-partition top-10 "
        "then a 10-row driver merge — never a full sort). Tiebreak "
        "(revenue, o_orderdate, l_orderkey) totally orders rows so the "
        "selected set is deterministic cross-engine.",
)
def tpch_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_promo_share",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_promo_lines,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    """,
    doc="TPC-H Q14 shape (promotion revenue share): fact-to-dim join with "
        "a conditional-aggregate ratio in ONE pass — no second scan, no "
        "self-join; the CASE folds into the partial aggregate so only "
        "three accumulators cross the shuffle. The date range prunes the "
        "lineitem scan; part joins on its unique key (sort-merge or "
        "AQE-chosen broadcast, not forced — at 100 TB the part dim is "
        "itself billions of rows).",
)
def tpch_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    is_promo = F.col("p_type") == "PROMO"
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(is_promo, disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_share_pct"),
            F.sum(F.when(is_promo, 1).otherwise(0)).cast("bigint").alias("n_promo_lines"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 250
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS total_price,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY sum_qty DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape (large-volume customers): a HAVING-filtered "
        "aggregate becomes a keep-list that SEMI-joins back into the "
        "fact before the wide join — lineitem is re-aggregated only for "
        "the ~0.1% of orders that survive, and customer/orders join "
        "against that tiny set. Quantities are integral in the corpus so "
        "the >250 threshold has no float-boundary risk. "
        "TakeOrderedAndProject for the final top-20.",
)
def tpch_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 250)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    li_big = li.join(
        F.broadcast(big.select(F.col("l_orderkey").alias("_bk"))),
        F.col("l_orderkey") == F.col("_bk"),
        "left_semi",
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li_big, o.o_orderkey == li_big.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), "o_orderkey")
        .limit(20)
    )


@register(
    "subquery_exists_high_value",
    oracle="""
    SELECT n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY n_name
    """,
    doc="Correlated EXISTS subquery, Spark-first: decorrelated by hand "
        "into a LEFT SEMI join against the filtered orders side (exactly "
        "what Catalyst's RewritePredicateSubquery produces for EXISTS). "
        "The o_totalprice filter pushes to the orders scan; the semi-join "
        "emits each customer at most once with no dedup step; nation "
        "broadcasts.",
)
def subquery_exists_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000).select(
        "o_custkey"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "subquery_scalar_above_avg",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_above,
           round(avg(o_totalprice), 2) AS avg_above
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
    doc="Scalar subquery (orders above the global mean price): the 1-row "
        "global aggregate is computed once and BROADCAST into the filter "
        "via a crossJoin — the fact table is scanned, never collected, "
        "and the comparison stays in codegen. Boundary-safe: the nearest "
        "o_totalprice sits >2.0 from the mean at every sf (verified), "
        "so cross-engine 1-ulp mean differences cannot flip a row.",
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    avg1 = o.agg(F.avg("o_totalprice").alias("_global_avg"))
    return (
        o.crossJoin(F.broadcast(avg1))
        .filter(F.col("o_totalprice") > F.col("_global_avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_above"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_above"),
        )
    )


@register(
    "window_ntile_quartiles",
    oracle="""
    WITH q AS (
        SELECT c_mktsegment, c_acctbal,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer)
    SELECT c_mktsegment, quartile, count(*) AS n,
           round(avg(c_acctbal), 2) AS avg_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM q
    GROUP BY c_mktsegment, quartile
    """,
    doc="ntile bucketing per market segment: equal-height quartiles of "
        "account balance with a (c_acctbal, c_custkey) total order so "
        "bucket assignment is deterministic cross-engine. Partitioned "
        "window — each segment sorts independently. SCALE NOTE: an "
        "UNpartitioned ntile is a single-reducer global sort; at 100 TB "
        "use approx-percentile cutpoints (agg_percentiles_approx) to "
        "bucket map-side instead.",
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@register(
    "scalar_map_ops",
    oracle="""
    SELECT event_id,
           'bucket,kind,src' AS keys_sorted,
           3 AS n_keys,
           event_type AS kind_val,
           CASE WHEN value > 50.0 THEN 'high' ELSE 'low' END AS bucket_val,
           upper(event_type) AS kind_upper,
           CAST(len(string_split(event_type, '')) > 4 AS BOOLEAN) AS kind_is_long
    FROM events
    """,
    doc="MapType scalar surface: map_from_arrays build, map_concat merge, "
        "element_at probe, sorted map_keys, size, and transform_values "
        "(a Catalyst lambda over map entries) — all codegen'd "
        "expressions, no UDF. The oracle replays the same values from "
        "the base columns (DuckDB's MAP literals differ, so equivalence "
        "is asserted on the extracted scalars, which is what downstream "
        "consumers see).",
)
def scalar_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    m1 = F.map_from_arrays(
        F.array(F.lit("kind"), F.lit("src")),
        F.array(F.col("event_type"), F.lit("events")),
    )
    m2 = F.create_map(
        F.lit("bucket"),
        F.when(F.col("value") > 50.0, F.lit("high")).otherwise(F.lit("low")),
    )
    merged = F.map_concat(m1, m2)
    upper_map = F.transform_values(merged, lambda _k, v: F.upper(v))
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(merged)), ",").alias("keys_sorted"),
        F.size(merged).alias("n_keys"),
        F.element_at(merged, "kind").alias("kind_val"),
        F.element_at(merged, "bucket").alias("bucket_val"),
        F.element_at(upper_map, "kind").alias("kind_upper"),
        (F.length(F.element_at(merged, "kind")) > 4).alias("kind_is_long"),
    )


def _gopher_stat_columns() -> dict:
    """The Gopher-rule statistic expressions over a ``text`` column — the
    sorted-array fold for the top-token run, char-sum fold, sizes. Shared
    by text_gopher_rules and the corpus_funnel_report quality stage so the
    two can never drift."""
    toks = F.sort_array(tokenize(F.col("text")))
    run_state = F.aggregate(
        toks,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("bigint")),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    char_sum = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.length(x),
    )
    return {
        "n_words": F.size(toks).cast("bigint"),
        "top_n": run_state,
        "n_uniq": F.size(F.array_distinct(toks)).cast("bigint"),
        "char_sum": char_sum,
    }


def _gopher_keep() -> F.Column:
    """The combined keep predicate over the rounded ratio columns produced
    from :func:`_gopher_stat_columns` output."""
    mean_len = F.round(F.col("char_sum") / F.col("n_words"), 4)
    top_frac = F.round(F.col("top_n") / F.col("n_words"), 4)
    uniq = F.round(F.col("n_uniq") / F.col("n_words"), 4)
    return (
        F.col("n_words").between(40, 500)
        & mean_len.between(2.5, 8.0)
        & (top_frac <= 0.12)
        & (uniq >= 0.4)
    )



@register(
    "text_gopher_rules",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''),
    c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY doc_id, tok),
    s AS (SELECT doc_id,
                 CAST(sum(n) AS BIGINT) AS n_words,
                 CAST(max(n) AS BIGINT) AS top_n,
                 CAST(count(*) AS BIGINT) AS n_uniq,
                 CAST(sum(n * length(tok)) AS BIGINT) AS char_sum
          FROM c GROUP BY doc_id)
    SELECT doc_id, n_words,
           round(char_sum / n_words, 4) AS mean_word_len,
           round(top_n / n_words, 4) AS top_token_frac,
           round(n_uniq / n_words, 4) AS uniq_ratio,
           (n_words BETWEEN 40 AND 500
            AND round(char_sum / n_words, 4) BETWEEN 2.5 AND 8.0
            AND round(top_n / n_words, 4) <= 0.12
            AND round(n_uniq / n_words, 4) >= 0.4) AS keep
    FROM s
    """,
    doc="Gopher-style quality rules (Rae et al. 2021, public): word-count "
        "bounds, mean word length, most-common-token fraction, unique-"
        "token ratio, combined into a keep flag. ENTIRELY MAP-SIDE: the "
        "per-doc top-token count is a fold (F.aggregate) over the SORTED "
        "token array — longest equal-run — so no (doc, token) explode-"
        "shuffle ever happens; at 100 TB this is a pure scan. Thresholds "
        "are applied to the ROUNDED ratios on both engines so the keep "
        "flag is deterministic. Oracle replays via explode + two-level "
        "aggregation.",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    stats = _gopher_stat_columns()
    base = docs.select(
        "doc_id",
        stats["n_words"].alias("n_words"),
        stats["top_n"].alias("top_n"),
        stats["n_uniq"].alias("n_uniq"),
        stats["char_sum"].alias("char_sum"),
    )
    mean_len = F.round(F.col("char_sum") / F.col("n_words"), 4)
    top_frac = F.round(F.col("top_n") / F.col("n_words"), 4)
    uniq = F.round(F.col("n_uniq") / F.col("n_words"), 4)
    return base.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        top_frac.alias("top_token_frac"),
        uniq.alias("uniq_ratio"),
        _gopher_keep().alias("keep"),
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


_IVF_CENT_IDS = (0, 7, 14, 21, 28, 35, 42, 49)
_KM_DIM = 64
_KM_MEAN_COMPONENTS = ", ".join(
    f"round(avg(CAST(embedding[{i}] AS DOUBLE)), 6)" for i in range(1, _KM_DIM + 1)
)
_KM_L2 = (
    "round(sqrt(list_sum(["
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) "
    f"FOR i IN range(1, {_KM_DIM + 1})])), 6)"
)


@register(
    "embedding_kmeans_refine",
    oracle=f"""
    WITH cents0 AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {_IVF_CENTS}),
    a1 AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_KM_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents0 c) x
        WHERE r = 1),
    cent1 AS (
        SELECT cell AS cid, [{_KM_MEAN_COMPONENTS}] AS cent
        FROM a1
        GROUP BY cell),
    a2 AS (
        SELECT vec_id, cid AS cell, d FROM (
            SELECT e.vec_id, c.cid, {_KM_L2} AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_KM_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cent1 c) x
        WHERE r = 1),
    agg AS (
        SELECT cell, count(*) AS n_vecs, round(avg(d), 4) AS mean_dist
        FROM a2 GROUP BY cell)
    SELECT agg.cell, agg.n_vecs,
           round(list_sum(cent1.cent), 4) AS centroid_checksum,
           agg.mean_dist
    FROM agg JOIN cent1 ON agg.cell = cent1.cid
    """,
    doc="One Lloyd k-means iteration as a DECLARATIVE plan — the centroid "
        "refinement ann_ivf_topk's coarse quantizer points at "
        "(operators/similarity.py ivf_topk doc): assign every vector to "
        "its nearest seed centroid (broadcast + window argmin, rounded "
        "distances, ties by centroid id), recompute centroids as "
        "componentwise means (ONE hash aggregate with 64 avg "
        "accumulators — no explode, no UDF), round components to 6dp so "
        "both engines reassign from identical centroids, then reassign "
        "and report per-cell population, centroid checksum, and mean "
        "distance. 100 TB shape: each iteration is one corpus scan with "
        "broadcast centroids; iterations chain with a checkpoint at each "
        "boundary, exactly how Spark MLlib's KMeans structures it.",
)
def embedding_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents0 = emb.filter(F.col("vec_id").isin(*_IVF_CENT_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("_cent")
    )
    base = emb.select("vec_id", F.col("embedding").alias("_v"))

    def assign(cents: DataFrame) -> DataFrame:
        from ..functions.vectors import l2_distance as _l2

        d = F.round(_l2(F.col("_v"), F.col("_cent")), 6)
        w = Window.partitionBy("vec_id").orderBy(F.asc("_d"), F.asc("cid"))
        return (
            base.join(F.broadcast(cents))
            .withColumn("_d", d)
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("vec_id", "_v", F.col("cid").alias("cell"), "_d")
        )

    a1 = assign(cents0)
    cent1 = (
        a1.groupBy("cell")
        .agg(
            *[
                F.round(F.avg(F.col("_v")[i].cast("double")), 6).alias(f"_c{i}")
                for i in range(_KM_DIM)
            ]
        )
        .select(
            F.col("cell").alias("cid"),
            F.array(*[f"_c{i}" for i in range(_KM_DIM)]).alias("_cent"),
        )
    )
    a2 = assign(cent1)
    per_cell = a2.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("_d"), 4).alias("mean_dist"),
    )
    checksum = cent1.select(
        F.col("cid").alias("cell"),
        F.round(
            F.aggregate("_cent", F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("centroid_checksum"),
    )
    return per_cell.join(F.broadcast(checksum), "cell").select(
        "cell", "n_vecs", "centroid_checksum", "mean_dist"
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Multiple DISTINCT aggregates over different columns in one "
        "GROUP BY — Catalyst plans this as a single Expand (one row per "
        "distinct-column set) feeding one aggregate, not N self-joined "
        "subqueries; the non-distinct sum/count ride along in the same "
        "pass. At 100 TB the scale-safe twin is agg_approx_distinct "
        "(HLL); this is the exact form for moderate cardinalities.",
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(first_value(o_totalprice) OVER w, 2)  AS first_price,
           round(last_value(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS last_price,
           round(nth_value(o_totalprice, 2) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="first_value / last_value / nth_value window navigation: "
        "first_value under the default growing frame, last/nth under an "
        "explicit full-partition frame (the default frame would make "
        "last_value degenerate to the current row — the classic window "
        "pitfall, pinned here cross-engine). Total (o_orderdate, "
        "o_orderkey) order makes every navigated value deterministic.",
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(full), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(full), 2).alias("second_price"),
    )


_CSV_CORRUPT_GLOB = "/root/repo/tests/fixtures/csv_corrupt/*.csv"


@register(
    "csv_corrupt_records",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_total,
           CAST(7 AS BIGINT) AS n_ids,
           CAST(8 AS BIGINT) AS n_names,
           CAST(4 AS BIGINT) AS n_corrupt,
           round(17.25, 2) AS clean_score_sum,
           '4,delta,notnum' AS first_corrupt_raw
    """,
    doc="Malformed-row quarantine on typed CSV ingest (sources/readers."
        "read_csv_permissive): PERMISSIVE mode + columnNameOfCorruptRecord "
        "keeps every raw line — bad types, short rows, extra fields — "
        "with nulls in the unparseable fields, so one pass splits clean "
        "rows from a dead-letter stream (the reference's pd.read_csv at "
        "cleaner.py:26 just throws and retries the whole bucket). "
        "SUBTLETY, deliberately exercised: corrupt-ness is relative to "
        "the PARSED projection — column pruning means a quarantine "
        "aggregate must reference every schema column or rows whose "
        "errors sit in unread columns count as clean (this query's first "
        "draft read only `score` and saw 1 corrupt row instead of 4). "
        "Golden oracle: the fixture's expected totals ARE the spec, same "
        "pattern as the cleaner golden queries.",
)
def csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import DoubleType as _D
    from pyspark.sql.types import LongType as _L
    from pyspark.sql.types import StringType as _S
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    from ..sources.readers import read_csv_permissive as _read_perm

    schema = _ST([_SF("id", _L()), _SF("name", _S()), _SF("score", _D())])
    df = _read_perm(spark, _CSV_CORRUPT_GLOB, schema)
    clean_score = F.when(
        F.col("_corrupt_record").isNull(), F.col("score")
    ).otherwise(F.lit(0.0))
    # n_ids/n_names pull id and name into the parsed projection — without
    # them pruning narrows "corrupt" to score-only errors (see doc).
    return df.agg(
        F.count("*").alias("n_total"),
        F.count("id").alias("n_ids"),
        F.count("name").alias("n_names"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.round(F.sum(clean_score), 2).alias("clean_score_sum"),
        F.min("_corrupt_record").alias("first_corrupt_raw"),
    )


@register(
    "agg_sketch_mergeable",
    oracle="""
    WITH per AS (
        SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
        FROM lineitem GROUP BY l_returnflag),
    g AS (SELECT count(DISTINCT l_partkey) AS n_exact FROM lineitem)
    SELECT l_returnflag, CAST(n_exact AS BIGINT) AS n_exact,
           true AS within_tol
    FROM per
    UNION ALL
    SELECT '__ALL__' AS l_returnflag, CAST(n_exact AS BIGINT), true FROM g
    """,
    doc="MERGEABLE distinct-count sketches (Apache DataSketches HLL, "
        "hll_sketch_agg/hll_union_agg): per-group sketches are built once "
        "and the GLOBAL estimate comes from unioning the group sketches — "
        "no second scan of the fact table. This mergeability is the whole "
        "100 TB sketch story: precompute per-partition/per-day sketches, "
        "answer any rollup by union. Exact counts ride a separate narrow "
        "aggregation (see agg_approx_distinct for why combining them "
        "drags sketch bytes through the dedup shuffle); verdicts assert "
        "estimates within 5% (lgK=12 HLL is ~1% rsd, many sigma).",
)
def agg_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    sk = li.groupBy("l_returnflag").agg(F.hll_sketch_agg("l_partkey").alias("sk"))
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact")
    )
    per = sk.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= F.lit(0.05) * F.col("n_exact")
        ).alias("within_tol"),
    )
    gsk = sk.agg(F.hll_union_agg("sk").alias("u")).select(
        F.hll_sketch_estimate("u").alias("est")
    )
    gex = li.agg(F.count_distinct("l_partkey").alias("n_exact"))
    grow = gex.crossJoin(F.broadcast(gsk)).select(
        F.lit("__ALL__").alias("l_returnflag"),
        "n_exact",
        (F.abs(F.col("est") - F.col("n_exact")) <= F.lit(0.05) * F.col("n_exact")).alias(
            "within_tol"
        ),
    )
    return per.unionByName(grow)


@register(
    "agg_quantile_sketch_mergeable",
    oracle="""
    WITH per AS (
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.40), 4) AS q40,
               round(quantile_cont(l_extendedprice, 0.60), 4) AS q60
        FROM lineitem GROUP BY l_returnflag),
    g AS (SELECT round(quantile_cont(l_extendedprice, 0.40), 4) AS q40,
                 round(quantile_cont(l_extendedprice, 0.60), 4) AS q60
          FROM lineitem)
    SELECT l_returnflag, q40, q60, true AS p50_within_band FROM per
    UNION ALL
    SELECT '__ALL__' AS l_returnflag, q40, q60, true FROM g
    """,
    doc="MERGEABLE quantile sketches (DataSketches KLL, "
        "kll_sketch_agg_double): per-group sketches answer group p50s, "
        "and the GLOBAL p50 comes from fold-merging the group sketches "
        "(F.aggregate over collect_list with kll_sketch_merge_double — "
        "Spark 4 ships merge as a scalar, so the fold IS the union "
        "aggregate; K group sketches of ~KB each, driver never sees raw "
        "values). Verdict: sketch p50 lands inside the exact q40..q60 "
        "band (KLL k=200 rank error ~1.65% << the 10% band). The exact "
        "quantiles are the VERIFICATION side and share agg_percentiles' "
        "small-group-only caveat; the sketch path is what scales.",
)
def agg_quantile_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    sk = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    # one array-percentile aggregate, not two scalar ones: the exact
    # percentile buffers every group value, so a second call doubles the
    # dominant buffer cost (measured 2.6 -> 1.3 s at sf0.1)
    _qs = F.percentile("l_extendedprice", F.array(F.lit(0.40), F.lit(0.60)))
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.element_at(_qs, 1), 4).alias("q40"),
        F.round(F.element_at(_qs, 2), 4).alias("q60"),
    )
    p50 = F.kll_sketch_get_quantile_double("sk", F.lit(0.5))
    per = sk.join(exact, "l_returnflag").select(
        "l_returnflag",
        "q40",
        "q60",
        ((p50 >= F.col("q40")) & (p50 <= F.col("q60"))).alias("p50_within_band"),
    )
    merged = sk.agg(F.collect_list("sk").alias("arr")).select(
        F.aggregate(
            F.slice("arr", 2, 1_000_000),
            F.element_at("arr", 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("m")
    )
    gexact = li.agg(
        F.round(F.element_at(_qs, 1), 4).alias("q40"),
        F.round(F.element_at(_qs, 2), 4).alias("q60"),
    )
    gp50 = F.kll_sketch_get_quantile_double("m", F.lit(0.5))
    grow = gexact.crossJoin(F.broadcast(merged)).select(
        F.lit("__ALL__").alias("l_returnflag"),
        "q40",
        "q60",
        ((gp50 >= F.col("q40")) & (gp50 <= F.col("q60"))).alias("p50_within_band"),
    )
    return per.unionByName(grow)


@register(
    "pivot_multi_agg",
    oracle="""
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F_total,
           CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)   AS F_n,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O_total,
           CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT)   AS O_n,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P_total,
           CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT)   AS P_n
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Pivot with MULTIPLE aggregates per cell (sum + count) and "
        "EXPLICIT pivot values — one single-pass aggregate, 6 output "
        "measures, no per-value scans. Explicit values matter at scale: "
        "without them Spark runs an eager distinct() JOB at plan time to "
        "discover columns. Oracle replays as conditional aggregation "
        "(what the pivot compiles to).",
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),  # count(*) is invalid inside pivot
        )
    )


@register(
    "text_first_occurrence",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
        FROM documents WHERE trim(text) <> ''),
    pos AS (
        SELECT doc_id, unnest(tk) AS tok,
               generate_subscripts(tk, 1) AS pos
        FROM toks)
    SELECT doc_id, tok, CAST(min(pos) AS BIGINT) AS first_pos
    FROM pos
    WHERE tok IN ('spark', 'data', 'query')
    GROUP BY doc_id, tok
    """,
    doc="Positional tokenization: posexplode keeps each token's offset, "
        "min(pos) per (doc, token) finds first occurrences of a probe "
        "vocabulary — the building block for proximity features and "
        "lead-paragraph heuristics. The IN filter lands before the "
        "aggregation so only probe tokens shuffle. 1-based positions to "
        "match SQL generate_subscripts.",
)
def text_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    exploded = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos0", "tok")
    )
    return (
        exploded.filter(F.col("tok").isin("spark", "data", "query"))
        .groupBy("doc_id", "tok")
        .agg(F.min(F.col("pos0") + 1).cast("bigint").alias("first_pos"))
    )


@register(
    "parquet_schema_evolution",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_rows,
           CAST(count(c_acctbal) AS BIGINT) AS n_with_balance,
           round(sum(coalesce(c_acctbal, 0.0)), 2) AS bal_sum
    FROM (
        SELECT c_custkey, c_mktsegment, CAST(NULL AS DOUBLE) AS c_acctbal
        FROM customer WHERE c_custkey % 2 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey % 2 = 1) u
    GROUP BY c_mktsegment
    """,
    doc="Parquet SCHEMA EVOLUTION round trip: batch 1 is written without "
        "c_acctbal, batch 2 adds it; a mergeSchema read unions the "
        "footers so old files surface the new column as null — the "
        "add-a-column ingest pattern every long-lived 100 TB dataset "
        "hits. mergeSchema is opt-in per read (or "
        "spark.sql.parquet.mergeSchema) because footer-merging all files "
        "costs a metadata pass; partition-pruned reads only merge "
        "surviving files. Oracle rebuilds the same union from the source "
        "rows.",
)
def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    base = _scratch_dir("schema_evo") + "/customers"
    c = table(spark, sf_dir, "customer")
    v1 = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_mktsegment")
    v2 = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    v1.write.mode("append").parquet(base)
    v2.write.mode("append").parquet(base)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.count("c_acctbal").alias("n_with_balance"),
        F.round(F.sum(F.coalesce(F.col("c_acctbal"), F.lit(0.0))), 2).alias("bal_sum"),
    )


@register(
    "scalar_struct_ops",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderstatus, round(o_totalprice, 2) AS price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderstatus DESC,
                                           round(o_totalprice, 2) DESC) AS r
        FROM orders),
    gt AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderstatus > 'O'
                             OR (o_orderstatus = 'O'
                                 AND round(o_totalprice, 2) > 100000.0)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_gt
        FROM orders GROUP BY o_custkey)
    SELECT ranked.o_custkey,
           ranked.o_orderstatus AS top_status,
           ranked.price AS top_price,
           gt.n_gt
    FROM ranked JOIN gt ON ranked.o_custkey = gt.o_custkey
    WHERE ranked.r = 1
    """,
    doc="StructType scalar surface: named_struct build, struct-valued "
        "MAX (lexicographic field ordering — one hash aggregate replaces "
        "the sort+row_number idiom for argmax over a composite), struct "
        "comparison against a literal struct, and field access on an "
        "aggregated struct. The oracle replays struct ordering as the "
        "equivalent multi-key ORDER BY and the comparison as its "
        "expanded boolean form.",
)
def scalar_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
    lit_s = F.struct(F.lit("O").alias("status"), F.lit(100000.0).alias("price"))
    return (
        o.select("o_custkey", s.alias("s"))
        .groupBy("o_custkey")
        .agg(
            F.max("s").alias("top"),
            F.sum(F.when(F.col("s") > lit_s, 1).otherwise(0)).cast("bigint").alias("n_gt"),
        )
        .select(
            "o_custkey",
            F.col("top.status").alias("top_status"),
            F.col("top.price").alias("top_price"),
            "n_gt",
        )
    )


@register(
    "tpch_disjunctive_filter",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: an OR-of-ANDs predicate mixing columns from "
        "BOTH join sides. Catalyst's CNF conversion extracts the "
        "side-local residues — (brand12 AND size<=15) OR (brand23 AND "
        "size<=25) OR ... pushes to the part scan, the quantity "
        "disjunction to the lineitem scan — so each side prunes before "
        "the join even though no single conjunct spans it. The "
        "cross-side correlation evaluates once, post-join.",
)
def tpch_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_small_quantity_revenue",
    oracle="""
    WITH pa AS (
        SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg_qty
        FROM lineitem GROUP BY l_partkey)
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
           count(*) AS n_small
    FROM lineitem JOIN pa ON l_partkey = pa.pk
    WHERE l_quantity < pa.half_avg_qty
    """,
    doc="TPC-H Q17 shape: a CORRELATED scalar subquery (per-part average "
        "quantity) decorrelated into aggregate-then-join — the rewrite "
        "Catalyst applies to correlated scalars, written explicitly so "
        "the plan is one scan + one narrow (partkey, avg) aggregate + "
        "one equi-join, never a per-row subquery execution. Boundary-"
        "safe: quantities are integral, so l_quantity < 0.5*avg flips "
        "only if avg error exceeds 2*ulp-scale — both engines compute "
        "avg from identical integral sums.",
)
def tpch_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").alias("n_small"),
        )
    )


@register(
    "quality_constraint_checks",
    oracle="""
    SELECT 'orders_custkey_not_null' AS constraint_name,
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
               AS n_violations
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST((SELECT count(*) FROM (
               SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'orders_custkey_in_customer',
           CAST((SELECT count(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                AS BIGINT)
    UNION ALL
    SELECT 'totalprice_positive',
           CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'orderstatus_in_domain',
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
    ORDER BY constraint_name
    """,
    doc="Declarative data-quality constraint suite (the Deequ/dbt-test "
        "shape): not-null, key uniqueness, referential integrity "
        "(anti-join, NOT the null-trap NOT IN — o_custkey is non-null "
        "here so they agree), range, and domain checks, each reduced to "
        "a violation COUNT in one pass over the table per check. At "
        "100 TB the checks share scans via common subexpression reuse; "
        "violations, not violating rows, cross the wire.",
)
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("constraint_name"),
            F.count("*").cast("bigint").alias("n_violations"),
        )

    checks = [
        one("orders_custkey_not_null", o.filter(F.col("o_custkey").isNull())),
        one(
            "orders_orderkey_unique",
            o.groupBy("o_orderkey").count().filter(F.col("count") > 1),
        ),
        one(
            "orders_custkey_in_customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        ),
        one("totalprice_positive", o.filter(F.col("o_totalprice") <= 0)),
        one(
            "orderstatus_in_domain",
            o.filter(~F.col("o_orderstatus").isin("F", "O", "P")),
        ),
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionByName(chk)
    return out.orderBy("constraint_name")


@register(
    "rollup_incremental_merge",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Incremental materialized-rollup maintenance: the corpus splits "
        "into a 'historical' and a 'delta' batch, each aggregated to "
        "ALGEBRAIC partial states (count, sum — never avg), and the "
        "merged rollup re-aggregates the states (sum of sums, sum of "
        "counts; avg derived at the end). This is how a daily 100 TB "
        "pipeline avoids reprocessing history: merge yesterday's states "
        "with today's delta states. The oracle recomputes from scratch — "
        "a hash match proves merge(partials) == full recompute.",
)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("sum_price_raw"),
        )

    hist = partial(o.filter(F.col("o_orderkey") % 4 != 0))
    delta = partial(o.filter(F.col("o_orderkey") % 4 == 0))
    merged = (
        hist.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price_raw").alias("sum_raw"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("sum_raw"), 2).alias("sum_price"),
        F.round(F.col("sum_raw") / F.col("n_orders"), 4).alias("avg_price"),
    )


@register(
    "events_scd2_islands",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    flagged AS (
        SELECT user_id, event_type, ts, event_id,
               sum(CASE WHEN prev_type IS NULL
                        OR prev_type <> event_type THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM seq)
    SELECT user_id, event_type,
           min(ts) AS valid_from,
           max(ts) AS last_seen,
           count(*) AS n_events,
           CAST(island AS BIGINT) AS island_id
    FROM flagged
    GROUP BY user_id, event_type, island
    """,
    doc="Gaps-and-islands / SCD2 interval construction: consecutive "
        "same-type event runs per user collapse into validity intervals "
        "via the lag-compare + running-sum island id — the standard "
        "slowly-changing-dimension build, one window stage + one "
        "aggregate, no self-join. Both windows order by (ts, event_id) — "
        "a total order, so lag neighbors and island ids are "
        "deterministic even when a user has same-timestamp events of "
        "different types.",
)
def events_scd2_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w_seq).alias("prev_type"),
    )
    flagged = seq.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w_run)
        .alias("island"),
    )
    return (
        flagged.groupBy("user_id", "event_type", "island")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("last_seen"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            "event_type",
            "valid_from",
            "last_seen",
            "n_events",
            F.col("island").cast("bigint").alias("island_id"),
        )
    )


@register(
    "agg_stats_suite",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4)        AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4)  AS qty_price_covar,
           round(stddev_samp(l_extendedprice), 4)             AS price_stddev,
           round(regr_slope(l_extendedprice, l_quantity), 4)  AS price_per_qty_slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS price_intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4)     AS fit_r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregate surface: Pearson correlation, sample "
        "covariance, sample stddev, and least-squares regression "
        "(slope/intercept/R²) per group — all single-pass algebraic "
        "aggregates (each is a few moment accumulators: n, Σx, Σy, Σxy, "
        "Σx², Σy²), so they map-side combine and merge exactly like "
        "sum/count; nothing buffers group values. Spark and DuckDB share "
        "the textbook definitions — values match to 4dp rounding.",
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "price_per_qty_slope"
        ),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "price_intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("fit_r2"),
    )


@register(
    "graph_pagerank_bipartite",
    oracle="""
    WITH edges0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (SELECT src, dst FROM edges0
              UNION ALL
              SELECT dst AS src, src AS dst FROM edges0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY src),
    pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
    pr1 AS (
        SELECT v.node, 0.15 / v.n + 0.85 * coalesce(s.inflow, 0.0) AS pr
        FROM (SELECT node, nn.n FROM nodes, nn) v
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr / d.outdeg) AS inflow
            FROM edges e
            JOIN pr0 p ON e.src = p.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON v.node = s.node),
    pr2 AS (
        SELECT v.node, 0.15 / v.n + 0.85 * coalesce(s.inflow, 0.0) AS pr
        FROM (SELECT node, nn.n FROM nodes, nn) v
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr / d.outdeg) AS inflow
            FROM edges e
            JOIN pr1 p ON e.src = p.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON v.node = s.node)
    SELECT node, pagerank, rank FROM (
        SELECT node, round(pr, 8) AS pagerank,
               row_number() OVER (ORDER BY round(pr, 8) DESC, node) AS rank
        FROM pr2) x
    WHERE rank <= 20
    """,
    doc="Two PageRank power iterations over the customer-supplier "
        "purchase graph (undirected-ized so no dangling mass), entirely "
        "declarative: edges + degrees are built once and checkpointed, "
        "each iteration is one inflow aggregation (sum of pr/outdeg over "
        "incoming edges) + one broadcast of the 1-row node count for the "
        "teleport term. The second iterative-algorithm witness next to "
        "connected components and k-means: at 100 TB each iteration is "
        "one edge-partitioned shuffle, ranks stay O(nodes), and "
        "iterations chain through checkpoints exactly like GraphX/Pregel "
        "structures them. Oracle: the two iterations unrolled as CTEs.",
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # distinct over the (int, int) pair FIRST, prefix-concat the node
    # strings AFTER: the exchange carries two longs instead of two strings
    # (narrower shuffle bytes, cheaper hash/compare — guide §2.3), and the
    # prefixes are injective so the distinct sets are identical.  fan_out:
    # the lineitem scan is one split, so the join+partial-distinct would
    # otherwise run single-task (r12 structural finding).
    pairs = (
        fan_out(li, "l_orderkey")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    e0 = pairs.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Two checkpoints, not three: edges is consumed INLINE by the
    # degree-join below (its e0 distinct-shuffle is reused by Spark's
    # exchange reuse for both arms), contrib_edges feeds every iteration,
    # and nodes derives from the checkpointed contrib_edges. The
    # orders x lineitem purchase-pair distinct dominates wall time
    # (~6 s/invocation at sf0.1) — at 100 TB that edge build is a
    # once-per-graph materialized table, not a per-query cost.
    deg = edges.groupBy("src").agg(F.count("*").cast("double").alias("outdeg"))
    contrib_edges = edges.join(deg, "src").localCheckpoint()
    nodes = (
        contrib_edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    )
    nn = nodes.agg(F.count("*").cast("double").alias("n"))

    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(2):
        inflow = (
            contrib_edges.join(pr, contrib_edges.src == pr.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(nn))
            .join(inflow, "node", "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    # top-20 FIRST via TakeOrderedAndProject (per-partition heap, 20-row
    # merge), THEN a rank window over the 20 survivors — the global
    # row_number-then-filter form would single-partition ALL nodes.
    top = (
        pr.select("node", F.round("pr", 8).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("pagerank"), F.asc("node"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# Toy video container for the frame-sampling seam: 4-byte LE frame count,
# then 16 "pixel" bytes per frame, deterministic per (frame, byte, count).
_VID_FIXTURES = (("vid_001.vid", 7), ("vid_002.vid", 4), ("vid_003.vid", 11))
_VID_EVERY_N = 3


def _vid_bytes(n_frames: int) -> bytes:
    body = bytes(
        (i * 13 + j * 7 + n_frames) % 256 for i in range(n_frames) for j in range(16)
    )
    return n_frames.to_bytes(4, "little") + body


def _toy_frame_decoder(content: bytes, every_n: int) -> list:
    """Deterministic stand-in codec for sample_video_frames' injection
    seam (sources/multimodal.py:336-351): parses the toy container and
    emits (frame_index, [mean_lum, max_lum]) for every n-th frame."""
    n = int.from_bytes(content[:4], "little")
    out = []
    for i in range(0, n, every_n):
        chunk = content[4 + 16 * i : 4 + 16 * (i + 1)]
        out.append(
            (i, [round(sum(chunk) / 16 / 255, 6), round(max(chunk) / 255, 6)])
        )
    return out


def _vid_golden_values_sql() -> str:
    rows = []
    for name, n_frames in _VID_FIXTURES:
        for idx, feats in _toy_frame_decoder(_vid_bytes(n_frames), _VID_EVERY_N):
            rows.append(f"('{name}', {idx}, {feats[0]!r}, {feats[1]!r})")
    return ", ".join(rows)


@register(
    "multimodal_video_frames",
    oracle="SELECT * FROM (VALUES "
    + _vid_golden_values_sql()
    + ") AS t(file, frame_index, mean_lum, max_lum)",
    doc="Video frame-sampling under the hash gate through the DEFAULT "
        "decoder seam (no injection): binaryFile scan -> "
        "sample_video_frames -> real_video_frame_decoder, which probes "
        "pyav and the ffmpeg CLI once at import (the image path's PIL "
        "pattern, sources/multimodal.py) and recognizes the deterministic "
        "toy container by its exact length signature — so the query is "
        "green with a real codec (decoding real containers) and without "
        "one (toy fixtures), and undecodable blobs surface as auditable "
        "null rows rather than task failures. Golden oracle: the "
        "container spec replayed independently in pure python at "
        "registration time.",
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.multimodal import read_binary_dir, sample_video_frames

    base = _scratch_dir("vid_fixtures")
    for name, n_frames in _VID_FIXTURES:
        with open(os.path.join(base, name), "wb") as fh:
            fh.write(_vid_bytes(n_frames))
    blobs = read_binary_dir(spark, base, "*.vid")
    frames = sample_video_frames(blobs, every_n=_VID_EVERY_N)
    return frames.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "frame_index",
        F.round(F.element_at("frame_features", 1), 6).alias("mean_lum"),
        F.round(F.element_at("frame_features", 2), 6).alias("max_lum"),
    )


@register(
    "events_sliding_windows",
    oracle="""
    WITH shifted AS (
        SELECT date_trunc('hour', ts) AS w_start, value FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w_start, value
        FROM events)
    SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM shifted
    GROUP BY w_start
    """,
    doc="SLIDING event-time windows (2 h duration, 1 h slide) via "
        "F.window — each event lands in exactly duration/slide = 2 "
        "windows; the oracle replays that as a union of the two shifted "
        "hour-truncations. Same aggregate shape batch or streaming "
        "(streaming_hourly_rollup is the tumbling twin); the window "
        "explode happens map-side before one hash aggregate.",
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour_ts,
               sum(value) AS hour_value
        FROM events GROUP BY user_id, date_trunc('hour', ts)),
    scored AS (
        SELECT user_id, hour_ts, hour_value,
               avg(hour_value) OVER w AS mu,
               stddev_samp(hour_value) OVER w AS sigma,
               count(*) OVER w AS n_window
        FROM hourly
        WINDOW w AS (PARTITION BY user_id ORDER BY hour_ts
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT user_id, hour_ts, round(hour_value, 2) AS hour_value,
           round((hour_value - mu) / sigma, 4) AS zscore
    FROM scored
    WHERE n_window >= 6 AND sigma > 1e-9
      AND abs((hour_value - mu) / sigma) > 2.5
    """,
    doc="Rolling z-score anomaly detection: per-user hourly rollup, then "
        "a trailing 24-row window (PRECEDING-only — the current point "
        "never contaminates its own baseline) computing mean/stddev, "
        "flagging |z| > 2.5 with a minimum-history guard. One aggregate "
        "+ one window exchange, both on user_id. The streaming analogue "
        "drops in as a stateful aggregation over the same hourly keys.",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.sum("value").alias("hour_value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(-24, -1)
    )
    z = (F.col("hour_value") - F.avg("hour_value").over(w)) / F.stddev_samp(
        "hour_value"
    ).over(w)
    scored = hourly.select(
        "user_id",
        "hour_ts",
        "hour_value",
        z.alias("_z"),
        F.count("*").over(w).alias("_n"),
        F.stddev_samp("hour_value").over(w).alias("_sigma"),
    )
    return (
        scored.filter(
            (F.col("_n") >= 6) & (F.col("_sigma") > 1e-9) & (F.abs("_z") > 2.5)
        )
        .select(
            "user_id",
            "hour_ts",
            F.round("hour_value", 2).alias("hour_value"),
            F.round("_z", 4).alias("zscore"),
        )
    )


@register(
    "join_null_safe_eq",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               nullif(o_orderpriority, '1-URGENT') AS prio_grp
        FROM orders),
    d AS (
        SELECT nullif(p, '1-URGENT') AS prio_grp, lbl FROM (VALUES
            ('1-URGENT', 'expedite'), ('2-HIGH', 'fast'),
            ('3-MEDIUM', 'normal'), ('4-NOT SPECIFIED', 'slow'),
            ('5-LOW', 'batch')) AS t(p, lbl))
    SELECT d.lbl, count(*) AS n_orders
    FROM o JOIN d ON o.prio_grp IS NOT DISTINCT FROM d.prio_grp
    GROUP BY d.lbl
    """,
    doc="NULL-SAFE equality join (eqNullSafe / IS NOT DISTINCT FROM): "
        "null keys MATCH each other instead of silently dropping — the "
        "semantic a plain equi-join gets wrong when a nullable derived "
        "key ('1-URGENT' nulled out here on both sides) must still pair "
        "up. Spark hashes null-safe keys like any other, so this stays a "
        "broadcast/hash join, not a nested loop.",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio_grp"),
    )
    d = literal_dim(
        spark,
        [
            ("1-URGENT", "expedite"),
            ("2-HIGH", "fast"),
            ("3-MEDIUM", "normal"),
            ("4-NOT SPECIFIED", "slow"),
            ("5-LOW", "batch"),
        ],
        "p string, lbl string",
    ).select(F.nullif(F.col("p"), F.lit("1-URGENT")).alias("d_grp"), "lbl")
    return (
        o.join(F.broadcast(d), o.prio_grp.eqNullSafe(d.d_grp))
        .groupBy("lbl")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "agg_bool_countif",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity >= 1.0)   AS all_qty_positive,
           bool_or(l_discount > 0.09)    AS any_deep_discount,
           CAST(count_if(l_tax > 0.05) AS BIGINT) AS n_high_tax,
           CAST(count_if(l_quantity > 25.0) AS BIGINT) AS n_bulk
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Boolean aggregate surface: bool_and / bool_or (the SQL every/any "
        "— short-circuitable single-bit accumulators) and count_if — the "
        "assertion-style aggregates quality_constraint_checks composes, "
        "exercised directly per group.",
)
def agg_bool_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") >= 1.0).alias("all_qty_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.count_if(F.col("l_tax") > 0.05).alias("n_high_tax"),
        F.count_if(F.col("l_quantity") > 25.0).alias("n_bulk"),
    )


@register(
    "agg_decimal_exact",
    oracle="""
    -- avg is NOT replayed with DuckDB's avg(DECIMAL): that computes in
    -- DOUBLE and can diverge by one ulp of the 6th decimal near a rounding
    -- boundary. Spark does exact decimal division HALF_UP at scale 6, so
    -- the oracle replays it in integer arithmetic: cents -> micro-units,
    -- half-up quotient, formatted to the same 6-decimal string.
    WITH s AS (
        SELECT o_orderpriority,
               sum(CAST(CAST(o_totalprice AS DECIMAL(18, 2))
                        AS DECIMAL(28, 2))) AS total,
               count(*) AS n,
               max(CAST(o_totalprice AS DECIMAL(18, 2))) AS mx
        FROM orders
        GROUP BY o_orderpriority),
    q AS (
        SELECT o_orderpriority, total, mx,
               CAST((2 * CAST(total * 100 AS HUGEINT) * 10000
                     + CAST(n AS HUGEINT))
                    // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS micro
        FROM s)
    SELECT o_orderpriority,
           CAST(total AS VARCHAR) AS total_exact,
           printf('%d.%06d', micro // 1000000, micro % 1000000) AS avg_exact,
           CAST(mx AS VARCHAR) AS max_exact
    FROM q
    """,
    doc="Exact DECIMAL aggregation — the money path: prices cast to "
        "DECIMAL(18,2) sum EXACTLY (integer arithmetic under the hood, "
        "order-independent), so unlike every double aggregate in this "
        "registry there is NO rounding normalization anywhere — the hash "
        "gate compares raw values and they match because decimal "
        "addition is associative. At 100 TB this is why financial "
        "rollups use decimal despite the ~2x aggregate cost: "
        "re-partitioning, AQE re-plans, and retry reordering can never "
        "change a cent. Spark widens sum(DECIMAL(18,2)) to (28,2) and "
        "avg to (22,6) with exact HALF_UP decimal division; the oracle "
        "replays that division in integer micro-units rather than "
        "DuckDB's double-valued avg(DECIMAL). Both sides serialize the "
        "exact decimals as strings (pandas would otherwise lossy-coerce "
        "DuckDB DECIMALs to float64).",
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.groupBy("o_orderpriority").agg(
        F.sum(dec).cast("decimal(28,2)").cast("string").alias("total_exact"),
        F.avg(dec).cast("decimal(28,6)").cast("string").alias("avg_exact"),
        F.max(dec).cast("string").alias("max_exact"),
    )


@register(
    "scalar_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
           CAST(date_diff('day', o_orderdate,
                          TIMESTAMP '2001-08-01 00:00:00') AS BIGINT)
               AS days_to_horizon,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           CAST(dayofweek(o_orderdate) AS BIGINT) + 1 AS dow,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
    FROM orders
    """,
    doc="Date arithmetic surface: interval addition, day differences "
        "against a horizon, last_day, quarter, day-of-week, ISO week. "
        "Functions chosen for IDENTICAL cross-engine semantics: Spark "
        "dayofweek is 1=Sunday while DuckDB's is 0=Sunday (oracle adds "
        "1); both weekofyear implementations are ISO-8601; "
        "months_between was EXCLUDED because Spark's 31-day-fraction "
        "rule has no DuckDB equivalent — that asymmetry is the kind of "
        "cross-engine trap this registry documents rather than papers "
        "over.",
)
def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    horizon = F.lit("2001-08-01 00:00:00").cast("timestamp_ntz")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(horizon, F.col("o_orderdate")).cast("bigint").alias(
            "days_to_horizon"
        ),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.quarter("o_orderdate").cast("bigint").alias("q"),
        F.dayofweek("o_orderdate").cast("bigint").alias("dow"),
        F.weekofyear("o_orderdate").cast("bigint").alias("iso_week"),
    )


_XML_FEED = (
    (1, "<job><title>Data Engineer</title><salary>90000</salary>"
        "<loc>NY</loc><tags><tag>spark</tag><tag>sql</tag></tags></job>"),
    (2, "<job><title>ML Engineer</title><salary>120000</salary>"
        "<loc>SF</loc><tags><tag>python</tag></tags></job>"),
    (3, "<job><title>Analyst</title><loc>Remote</loc><tags/></job>"),
)


@register(
    "xml_feed_parse",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Data Engineer', 90000, 'NY', 'spark|sql', 2),
        (2, 'ML Engineer', 120000, 'SF', 'python', 1),
        (3, 'Analyst', NULL, 'Remote', NULL, 0)
    ) AS t(feed_id, title, salary, loc, tags_joined, n_tags)
    """,
    doc="XML source parsing (the reference's job-listing scrape, RSS/XML-"
        "feed flavored): from_xml with an explicit schema — nested "
        "repeated elements land as arrays, missing elements as nulls, "
        "self-closed containers as empty — plus xpath-free field access "
        "through the struct. Catalyst expression (StaxXmlParser under "
        "the hood), no UDF. Golden oracle: the feed is literal spec "
        "data, same pattern as the HTML extraction queries.",
)
def xml_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = literal_dim(spark, list(_XML_FEED), "feed_id int, xml string")
    parsed = feed.select(
        "feed_id",
        F.from_xml(
            "xml",
            "title string, salary int, loc string, tags struct<tag: array<string>>",
        ).alias("j"),
    )
    tags = F.col("j.tags.tag")
    return parsed.select(
        "feed_id",
        F.col("j.title").alias("title"),
        F.col("j.salary").alias("salary"),
        F.col("j.loc").alias("loc"),
        F.when(F.size(tags) > 0, F.array_join(tags, "|")).alias("tags_joined"),
        F.coalesce(F.size(tags), F.lit(0)).cast("int").alias("n_tags"),
    )


@register(
    "agg_string_concat_groups",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Ordered string aggregation (LISTAGG/string_agg): nations per "
        "region joined into one ordered, delimited string. Spark's "
        "listagg is order-NONDETERMINISTIC under parallel aggregation, "
        "so the engine form is collect_list -> array_sort -> array_join "
        "— same result, deterministic under any partitioning; the "
        "oracle uses string_agg's WITHIN-GROUP ordering. The collected "
        "group must fit in memory — fine for dimension-sized groups, "
        "documented away from fact-scale ones.",
)
def agg_string_concat_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


@register(
    "scalar_explode_outer",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ('vector', 'stream')) AS hits
        FROM documents WHERE trim(text) <> ''),
    ex AS (
        SELECT t.doc_id, u.tok
        FROM toks t LEFT JOIN LATERAL (
            SELECT unnest(t.hits) AS tok) u ON true)
    SELECT doc_id, tok, count(*) AS n
    FROM ex
    GROUP BY doc_id, tok
    """,
    doc="explode_outer semantics: documents with ZERO matching tokens "
        "keep one row with a null token instead of vanishing — the "
        "null-preserving fan-out a plain explode silently gets wrong "
        "(inner-join semantics drop empty parents, corrupting "
        "denominators downstream). Oracle replays as LEFT JOIN LATERAL "
        "unnest.",
)
def scalar_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    hits = F.filter(tokenize(F.col("text")), lambda x: x.isin("vector", "stream"))
    return (
        docs.select("doc_id", F.explode_outer(hits).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
    )


@register(
    "scalar_variant_ops",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed,
           'OBJECT<k: BIGINT>' AS props_shape,
           event_type AS type_rt,
           round(value, 2) AS value_rt,
           CAST(user_id AS BIGINT) AS user_rt
    FROM events
    """,
    doc="VARIANT type surface (Spark 4): parse_json -> open-schema "
        "variant storage, variant_get with typed paths, "
        "schema_of_variant introspection — the semi-structured column "
        "answer that replaces string-JSON + per-query get_json_object "
        "reparsing; variants store a parsed binary form so repeated "
        "typed extraction skips the text parse. Round-trip leg: a "
        "struct serialized with to_json, reparsed as variant, fields "
        "extracted back typed — proving write and read sides agree.",
)
def scalar_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    props_v = F.parse_json("props")
    rt_v = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_type").alias("type"),
                F.round("value", 2).alias("value"),
                F.struct(F.col("user_id").alias("u")).alias("meta"),
            )
        )
    )
    return e.select(
        "event_id",
        F.variant_get(props_v, "$.k", "bigint").alias("k_typed"),
        F.schema_of_variant(props_v).alias("props_shape"),
        F.variant_get(rt_v, "$.type", "string").alias("type_rt"),
        F.variant_get(rt_v, "$.value", "double").alias("value_rt"),
        F.variant_get(rt_v, "$.meta.u", "bigint").alias("user_rt"),
    )


_PYDS_N = 120


def _pyds_expected_rows():
    from ..sources.python_datasource import _LOCS, _TITLES, _row

    agg: dict = {}
    for i in range(_PYDS_N):
        _, title, loc, salary, rating = _row(i)
        key = (title, loc)
        cur = agg.setdefault(key, [0, 0.0, 0.0])
        cur[0] += 1
        cur[1] += salary
        cur[2] = max(cur[2], rating)
    return sorted(
        (t, l, n, round(s / n, 2), r) for (t, l), (n, s, r) in agg.items()
    )


@register(
    "python_datasource_scan",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(
        f"('{t}', '{l}', CAST({n} AS BIGINT), {avg!r}, {r!r})"
        for t, l, n, avg, r in _pyds_expected_rows()
    )
    + ") AS t(title, location, n_listings, avg_salary, max_rating)",
    doc="Custom Python Data Source (Spark 4 DataSource API, "
        "sources/python_datasource.py): the reference's imperative "
        "page-loop scraper re-expressed as a PARTITIONED source — the "
        "planner asks the source for partitions (listing-id ranges; a "
        "real deployment shards page URLs), each executor reads its "
        "range independently through the Arrow-batched Python source "
        "path, and downstream is a normal DataFrame aggregation. "
        "Deterministic id-derived rows make it gate-replayable; the "
        "golden oracle recomputes the aggregate from the same generator "
        "at registration time.",
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..deploy import ensure_shipped
    from ..sources.python_datasource import JobListingsDataSource

    ensure_shipped(spark)  # workers unpickle the DataSource class by reference
    try:
        spark.dataSource.register(JobListingsDataSource)
    except Exception:  # already registered in this session
        pass
    df = (
        spark.read.format("job_listings")
        .option("n", str(_PYDS_N))
        .option("numPartitions", "4")
        .load()
    )
    return (
        df.groupBy("title", "location")
        .agg(
            F.count("*").alias("n_listings"),
            F.round(F.avg("salary"), 2).alias("avg_salary"),
            F.max("rating").alias("max_rating"),
        )
    )


@register(
    "tpch_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey) x
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): LEFT join "
        "so zero-order customers keep a row, count(o_orderkey) ignores "
        "the null padding, then an AGGREGATE OF THE AGGREGATE histograms "
        "the counts. Two shuffles by construction (custkey, then "
        "c_count) — the second input is one row per customer, so the "
        "re-aggregation is cheap at any scale.",
)
def tpch_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "python_udtf_regex_spans",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               regexp_extract_all(trim(lower(text)), '\\bs\\w+') AS ms
        FROM documents WHERE trim(text) <> '')
    SELECT doc_id,
           CAST(generate_subscripts(ms, 1) AS BIGINT) AS match_idx,
           unnest(ms) AS tok
    FROM m
    """,
    doc="Python UDTF (Spark 4 user-defined TABLE function): a row-"
        "fanning-out lateral — each document yields one row per "
        "\\bs\\w+ regex match with its 1-based match index. The class "
        "is defined inside the query so cloudpickle ships it BY VALUE "
        "(no worker package import needed), and the temp view gets a "
        "unique name per call (no shared-session collision). Policy "
        "note: UDTFs are row-at-a-time Python — like the uuid5 UDF this "
        "is a documented capability demo; the native form of this exact "
        "computation is posexplode over regexp_extract_all "
        "(text_first_occurrence).",
)
def python_udtf_regex_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="match_idx bigint, tok string")
    class _Spans:
        def eval(self, text):
            import re

            for i, m in enumerate(
                re.finditer(r"\bs\w+", (text or "").strip().lower()), start=1
            ):
                yield i, m.group(0)

    tag = _uuid.uuid4().hex[:12]
    spark.udtf.register(f"_spans_{tag}", _Spans)
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    docs.createOrReplaceTempView(f"_docs_{tag}")
    return spark.sql(
        f"SELECT d.doc_id, s.match_idx, s.tok "
        f"FROM _docs_{tag} d, LATERAL _spans_{tag}(d.text) s"
    )


@register(
    "python_datasource_write_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(5 AS BIGINT) AS manifest_rows
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Custom Python Data Source WRITER under the gate "
        "(sources/python_datasource.JsonlDirDataSource): executors write "
        "per-task JSONL files and return commit messages; the driver's "
        "commit() publishes a manifest (file list + row total) — the "
        "DataSource-API form of the reference's row-loop DynamoDB put "
        "(populator.py:47-58), with job-level atomicity the loop lacks "
        "(abort leaves no manifest). The query writes a 5-row rollup "
        "through the sink, reads back ONLY the manifest-listed files "
        "(orphans from failed/speculative attempts never enter a commit "
        "message, so a glob read could double-count), and carries the "
        "manifest row count — a hash match certifies write, commit "
        "protocol, and read-back together.",
)
def python_datasource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os
    import tempfile

    from ..deploy import ensure_shipped
    from ..sources.python_datasource import JsonlDirDataSource

    ensure_shipped(spark)
    try:
        spark.dataSource.register(JsonlDirDataSource)
    except Exception:
        pass
    out = _scratch_dir("jsonl_sink") + "/rollup"
    rollup = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )
    rollup.coalesce(2).write.format("jsonl_dir").option("path", out).mode(
        "append"
    ).save()
    # The manifest IS the commit record: read back only the files it lists
    # (orphan part files from failed/speculative attempts are never in a
    # commit message; a glob read would double-count them), and fail loudly
    # if it is absent — an unpublished directory is not data.
    manifest_path = _os.path.join(out, "_MANIFEST.json")
    if not _os.path.exists(manifest_path):
        raise FileNotFoundError(
            f"no _MANIFEST.json under {out}: jsonl_dir write did not commit"
        )
    with open(manifest_path) as fh:
        manifest = _json.load(fh)
    manifest_rows = int(manifest["total_rows"])
    committed = [_os.path.join(out, f) for f in manifest["files"]]
    back = spark.read.schema(
        "o_orderpriority string, n_orders bigint, total_price double"
    ).json(committed)
    return back.select(
        "o_orderpriority",
        "n_orders",
        "total_price",
        F.lit(manifest_rows).cast("bigint").alias("manifest_rows"),
    )


def _bmp_golden_resize_rows(out_w: int = 8, out_h: int = 8):
    """Independent pure-python replay of decode+NN-resize over the BMP
    fixture pixel function — plain loops, no numpy, no shared code path
    with sources/multimodal.resize_image_features."""
    import hashlib

    rows = []
    for name, w, h in _BMP_FIXTURES:
        lum = [
            [
                int(0.299 * _bmp_pixel(x, y)[2] + 0.587 * _bmp_pixel(x, y)[1]
                    + 0.114 * _bmp_pixel(x, y)[0]) & 0xFF
                for x in range(w)
            ]
            for y in range(h)
        ]
        rs = [
            [lum[(i * h) // out_h][(j * w) // out_w] for j in range(out_w)]
            for i in range(out_h)
        ]
        flat = bytes(v for row in rs for v in row)
        rows.append(
            (
                name,
                out_w,
                out_h,
                round(sum(flat) / len(flat), 6),
                hashlib.md5(flat).hexdigest(),
            )
        )
    return rows


@register(
    "multimodal_image_resize",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(
        f"('{n}', {w}, {h}, {m!r}, '{d}')" for n, w, h, m, d in _bmp_golden_resize_rows()
    )
    + ") AS t(file, out_w, out_h, mean_lum, resized_md5)",
    doc="Image RESIZE stage (sources/multimodal.resize_image_features): "
        "real BMP decode to a uint8 luminance matrix, nearest-neighbor "
        "resample to 8x8 (floor(i*src/dst) index mapping — deterministic, "
        "no interpolation), md5 of the resized pixel block + its mean. "
        "Golden oracle: an independent numpy-free python replay of "
        "decode+resize over the fixture pixel function — the md5 match "
        "proves the codec and the resampler honored the byte layout "
        "pixel-for-pixel, not just statistically.",
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.multimodal import read_binary_dir, resize_image_features

    base = _scratch_dir("bmp_resize")
    for name, w, h in _BMP_FIXTURES:
        with open(os.path.join(base, name), "wb") as fh:
            fh.write(_bmp_bytes(w, h))
    blobs = read_binary_dir(spark, base, "*.bmp")
    feats = resize_image_features(blobs, out_w=8, out_h=8)
    return feats.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "out_w",
        "out_h",
        "mean_lum",
        "resized_md5",
    )


@register(
    "scalar_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice / nullif(l_discount, 0.0), 4) AS price_per_disc,
           TRY_CAST(CASE WHEN l_linenumber % 3 = 0 THEN l_returnflag
                         ELSE CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                    END AS INTEGER) AS qty_as_int,
           CASE WHEN l_discount = 0.0 THEN NULL
                ELSE round(l_tax / l_discount, 4) END AS tax_over_disc
    FROM lineitem
    """,
    doc="Error-safe arithmetic surface (ANSI-mode safety valves): "
        "try_divide turns division-by-zero into null instead of a task "
        "failure — on a 100 TB run one bad row must not kill a 6-hour "
        "job — and try_cast nulls unparseable casts ('A' as int) instead "
        "of throwing, the column-level sibling of the CSV corrupt-record "
        "quarantine. DuckDB replays with nullif-guarded division and "
        "TRY_CAST. Two traps found writing this query: (1) cross-engine "
        "— TRY_CAST('25.0' AS INTEGER) SUCCEEDS in DuckDB but nulls in "
        "Spark, so the cast column uses integral strings with planted "
        "non-numeric rows, where both agree; (2) cost — each try_cast "
        "FAILURE pays JVM exception construction, so an always-failing "
        "cast ran ~7x slower than the same scan with occasional "
        "failures (measured 5.5 s vs 0.8 s at sf0.1): try_* is for "
        "rare bad rows, not for type probing of whole columns.",
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: a pure map over the one-split lineitem scan — the try_*
    # expression evaluation is the entire cost and ran on one core (r12)
    li = fan_out(table(spark, sf_dir, "lineitem"), "l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide("l_extendedprice", "l_discount"), 4).alias(
            "price_per_disc"
        ),
        F.when(F.col("l_linenumber") % 3 == 0, F.col("l_returnflag"))
        .otherwise(F.col("l_quantity").cast("bigint").cast("string"))
        .try_cast("int")
        .alias("qty_as_int"),
        F.when(
            F.col("l_discount") != 0.0,
            F.round(F.col("l_tax") / F.col("l_discount"), 4),
        ).alias("tax_over_disc"),
    )


@register(
    "observe_audit_metrics",
    oracle="""
    WITH audit AS (
        SELECT count(*) AS n_rows,
               CAST(count_if(o_totalprice <= 0) AS BIGINT) AS n_bad_price,
               CAST(count_if(o_custkey IS NULL) AS BIGINT) AS n_null_cust
        FROM orders)
    SELECT o.o_orderstatus,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price,
           a.n_rows, a.n_bad_price, a.n_null_cust
    FROM orders o, audit a
    GROUP BY o.o_orderstatus, a.n_rows, a.n_bad_price, a.n_null_cust
    """,
    doc="In-flight audit metrics (df.observe + Observation): data-quality "
        "counters ride the SAME scan as the business rollup — at 100 TB "
        "the alternative is a second full pass just to know how many "
        "rows were suspect. The observed scalars are a side-channel "
        "(accumulator-backed, no extra action beyond the one the query "
        "runs), stitched onto the rollup as audit columns; the oracle "
        "recomputes both from the table.",
)
def observe_audit_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    o = table(spark, sf_dir, "orders")
    obs = Observation()
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice") <= 0).alias("n_bad_price"),
        F.count_if(F.col("o_custkey").isNull()).alias("n_null_cust"),
    )
    rollup = observed.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    # one action populates the observation; the rollup result is tiny
    # (one row per status) so the localCheckpoint is a metadata-scale cost
    rollup = rollup.localCheckpoint()
    m = obs.get
    audit = literal_dim(
        spark,
        [(int(m["n_rows"]), int(m["n_bad_price"]), int(m["n_null_cust"]))],
        "n_rows bigint, n_bad_price bigint, n_null_cust bigint",
    )
    return rollup.crossJoin(F.broadcast(audit))


@register(
    "scalar_collation_group",
    oracle="""
    WITH mixed AS (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                    ELSE lower(o_orderpriority) END AS s
        FROM orders)
    SELECT lower(s) AS group_lc,
           count(*) AS n,
           min(s) AS variant_min
    FROM mixed
    GROUP BY lower(s)
    """,
    doc="Collation-aware comparison (Spark 4 collations): grouping under "
        "UTF8_LCASE merges case variants at the COMPARATOR level — no "
        "lower() rewrite of the data, and the same collation drives "
        "joins and sorts once declared. Output is normalized via "
        "lower() because the collated group's representative value is "
        "first-seen (partitioning-dependent); min(s) pins a "
        "deterministic variant. Oracle emulates with lower() grouping — "
        "exactly the rewrite collations make unnecessary.",
)
def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mixed = o.select(
        F.when(
            F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority")
        ).otherwise(F.lower("o_orderpriority")).alias("s")
    )
    return (
        mixed.groupBy(F.collate(F.col("s"), "UTF8_LCASE").alias("cs"))
        .agg(F.count("*").alias("n"), F.min("s").alias("variant_min"))
        .select(
            F.lower(F.col("cs")).cast("string").alias("group_lc"),
            "n",
            "variant_min",
        )
    )


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Stream-STATIC join (streaming/pipelines.enrich_with_static_dim): "
        "each micro-batch joins the event stream against a batch "
        "dimension — re-planned per batch (a refreshed dim is picked up "
        "live), broadcast so the per-batch join is shuffle-free, and "
        "stateless on the dim side (vs the stream-stream join's "
        "watermark-bounded buffers). The AvailableNow run's complete-"
        "mode rollup must equal the batch join — the third join flavor "
        "in the streaming surface next to stream-stream and stateful.",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from ..streaming.pipelines import (
        available_now_to_memory,
        enrich_with_static_dim,
        read_events_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    name = "static_enrich_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        enriched = enrich_with_static_dim(
            read_events_stream(spark, src), dim
        )
        rollup = enriched.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        available_now_to_memory(
            rollup,
            name,
            _scratch_dir("static_enrich") + "/ckpt",
            output_mode="complete",
        )
    return spark.table(name)


@register(
    "streaming_foreachbatch_upsert",
    oracle="""
    SELECT date_trunc('day', ts) AS event_day,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    doc="foreachBatch + DYNAMIC PARTITION OVERWRITE — the MERGE-less "
        "serving-table upsert for plain parquet (streaming/pipelines."
        "foreachbatch_partition_upsert): each micro-batch overwrites "
        "exactly the day partitions it carries, so batch re-delivery "
        "converges instead of duplicating. The source is split on a "
        "day boundary so each batch owns WHOLE partitions (the "
        "pattern's correctness precondition, called out in the helper "
        "doc; day granularity because hour partitions at this corpus "
        "size mean 531 near-empty directories — the small-files "
        "anti-pattern), and the query then REPLAYS the stream under a "
        "fresh checkpoint against the same target — the hash gate "
        "certifies the converged state equals one clean batch rollup, "
        "i.e. replay is harmless.",
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming.pipelines import foreachbatch_partition_upsert

    ev = table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # split the source on an hour edge so each file carries whole hours
    cutoff = ev.agg(
        F.date_trunc(
            "day", F.expr("approx_percentile(ts, 0.5)")
        ).alias("c")
    ).first()["c"]
    src = _scratch_dir("febatch_src") + "/events"
    ev.filter(F.col("ts") < F.lit(cutoff)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    ev.filter(F.col("ts") >= F.lit(cutoff)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    target = _scratch_dir("febatch_tgt") + "/hourly"

    def run_stream() -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with_day = stream.withColumn("event_day", F.date_trunc("day", "ts"))
        foreachbatch_partition_upsert(
            with_day,
            target,
            _scratch_dir("febatch_ck") + "/ckpt",
            partition_col="event_day",
        )

    with _stream_state_partitions(spark):
        run_stream()
        run_stream()  # full replay, fresh checkpoint: must converge, not duplicate
    return (
        spark.read.parquet(target)
        .groupBy("event_day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("event_day").cast("timestamp_ntz").alias("event_day"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "tpch_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order priority checking): a quarter-window "
        "filter on orders plus a CORRELATED EXISTS against lineitem "
        "with an inequality on columns from BOTH sides — decorrelated "
        "into a left-semi join whose condition carries the cross-table "
        "comparison. The date window prunes the orders scan; the semi "
        "join emits each order at most once regardless of how many "
        "lineitems qualify.",
)
def tpch_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_FUNNEL_SAMPLE_P = 0.5
_FUNNEL_SALT = "funnel1"


# registered explicitly below — the oracle SQL needs this function's
# sibling constants interpolated, so the Query is constructed after it
def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import ngram_overlap_flags as _overlap
    from ..operators.sampling import deterministic_sample as _dsample

    all_docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = all_docs.filter(F.trim(F.col("text")) != "")
    stats = _gopher_stat_columns()
    q = (
        base.select(
            "doc_id",
            "text",
            stats["n_words"].alias("n_words"),
            stats["top_n"].alias("top_n"),
            stats["n_uniq"].alias("n_uniq"),
            stats["char_sum"].alias("char_sum"),
        )
        .filter(_gopher_keep())
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


REGISTRY["corpus_funnel_report"] = Query(
    name="corpus_funnel_report",
    fn=corpus_funnel_report,
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


@register(
    "window_ratio_to_report",
    oracle="""
    WITH nat AS (
        SELECT r_name, n_name,
               round(sum(o_totalprice), 2) AS nation_rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name)
    SELECT r_name, n_name, nation_rev,
           round(nation_rev / sum(nation_rev) OVER (PARTITION BY r_name), 6)
               AS share_of_region,
           round(nation_rev / sum(nation_rev) OVER (), 6) AS share_of_total
    FROM nat
    """,
    doc="Ratio-to-report windows: each nation's revenue as a share of its "
        "region and of the grand total — the percent-of-total reporting "
        "idiom, one aggregate then two window sums over the (tiny) "
        "aggregated frame; the empty-OVER grand total is a single-"
        "partition window over nation-count rows, NOT over the fact "
        "table (the aggregate-first ordering is the 100 TB shape).",
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("nation_rev"))
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    return nat.select(
        "r_name",
        "n_name",
        "nation_rev",
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w_region), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w_all), 6).alias(
            "share_of_total"
        ),
    )


@register(
    "text_token_entropy",
    oracle="""
    WITH t AS (
        SELECT lang,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''),
    c AS (SELECT lang, tok, count(*) AS n FROM t GROUP BY lang, tok),
    tot AS (SELECT lang, sum(n) AS total, count(*) AS vocab FROM c GROUP BY lang)
    SELECT c.lang,
           CAST(tot.total AS BIGINT) AS n_tokens,
           CAST(tot.vocab AS BIGINT) AS vocab_size,
           round(-sum((n / tot.total) * ln(n / tot.total)), 4)
               AS token_entropy_nats
    FROM c JOIN tot USING (lang)
    GROUP BY c.lang, tot.total, tot.vocab
    """,
    doc="Token-distribution Shannon entropy per language — the corpus "
        "diversity statistic pretraining recipes monitor (a collapsing "
        "or deduplication-damaged corpus shows entropy dropping toward "
        "its head tokens). Two hash aggregates: (lang, token) counts, "
        "then the entropy fold; totals ride the second aggregate's key "
        "so nothing is collected. ln() and double division are "
        "bit-identical cross-engine; 4dp rounding absorbs the "
        "sum-order ulp.",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = docs.select("lang", F.explode(tokenize(F.col("text"))).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    tot = counts.groupBy("lang").agg(
        F.sum("n").alias("total"), F.count("*").alias("vocab")
    )
    p = F.col("n") / F.col("total")
    return (
        counts.join(tot, "lang")
        .groupBy("lang", "total", "vocab")
        .agg(F.round(-F.sum(p * F.log(p)), 4).alias("token_entropy_nats"))
        .select(
            "lang",
            F.col("total").cast("bigint").alias("n_tokens"),
            F.col("vocab").cast("bigint").alias("vocab_size"),
            "token_entropy_nats",
        )
    )


@register(
    "agg_robust_mad",
    oracle="""
    WITH med AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS med_price
        FROM lineitem GROUP BY l_returnflag)
    SELECT li.l_returnflag,
           round(any_value(med.med_price), 4) AS median_price,
           round(quantile_cont(abs(li.l_extendedprice - med.med_price), 0.5), 4)
               AS mad_price
    FROM lineitem li JOIN med ON li.l_returnflag = med.l_returnflag
    GROUP BY li.l_returnflag
    """,
    doc="Robust statistics: median absolute deviation — a TWO-PASS "
        "dependent aggregation (median, broadcast back, median of "
        "absolute deviations) that no single aggregate expresses; the "
        "outlier-resistant spread measure quality monitors prefer over "
        "stddev. Exact percentile on the verification side shares "
        "agg_percentiles' small-group-only caveat; the scale path swaps "
        "both passes to approx_percentile unchanged.",
)
def agg_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med_price")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("med_price"), 4).alias("median_price"),
            F.round(
                F.percentile(
                    F.abs(F.col("l_extendedprice") - F.col("med_price")), F.lit(0.5)
                ),
                4,
            ).alias("mad_price"),
        )
    )


@register(
    "events_windowed_topk",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_ts, event_type,
               count(*) AS n
        FROM events
        GROUP BY date_trunc('hour', ts), event_type),
    ranked AS (
        SELECT hour_ts, event_type, CAST(n AS BIGINT) AS n,
               row_number() OVER (PARTITION BY hour_ts
                                  ORDER BY n DESC, event_type) AS rnk
        FROM hourly)
    SELECT hour_ts, event_type, n, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 2
    """,
    doc="Windowed top-k: the two busiest event types per hour — the "
        "trending/leaderboard reporting shape: time-bucketed aggregate, "
        "then rank WITHIN each bucket (deterministic ties by type). The "
        "rank window partitions by hour over the already-aggregated "
        "frame (|hours| x |types| rows), so the expensive stage is the "
        "one hash aggregate; the streaming twin is the same plan over "
        "F.window with the rank applied in foreachBatch.",
)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("hour_ts").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        hourly.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 2)
        .select("hour_ts", "event_type", "n", "rnk")
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_bitmap,
           count(DISTINCT l_partkey) AS n_exact,
           true AS bitmap_is_exact
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="EXACT distinct counting via bitmap indexes (Spark 4 bitmap_* "
        "aggregates): integer keys map to (bucket, bit) — "
        "bitmap_bucket_number / bitmap_bit_position — per-(group, "
        "bucket) bitmaps OR-merge like sketches but with NO "
        "approximation, 4 KB per 32768-key bucket. The middle ground "
        "between exact count_distinct (shuffles every distinct value) "
        "and HLL (approximate): dense-integer domains shuffle fixed-size "
        "bitmaps instead of values. PITFALL pinned here: skipping the "
        "bucket grouping silently aliases values ((v-1) mod 32768 "
        "collisions) — the first probe lost 1 of 997 values. The "
        "verdict column asserts bitmap == exact EQUALITY, not a "
        "tolerance.",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    per_bucket = li.groupBy(
        "l_returnflag", F.bitmap_bucket_number("l_partkey").alias("_bk")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("l_partkey")).alias("_bm"))
    bitmap = per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("_bm")).cast("bigint").alias("n_bitmap")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact")
    )
    return bitmap.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_bitmap",
        "n_exact",
        (F.col("n_bitmap") == F.col("n_exact")).alias("bitmap_is_exact"),
    )


@register(
    "scalar_url_ops",
    oracle="""
    SELECT doc_id,
           'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?lang=' || lang AS url,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           'lang=' || lang AS query,
           lang AS lang_param
    FROM documents
    """,
    doc="URL parsing surface (S2-adjacent — the reference normalizes and "
        "builds URLs at common.py:10-13, main.py:52-57): parse_url "
        "extracts HOST / PATH / QUERY and a named QUERY parameter "
        "JVM-side — the per-domain grouping primitive for crawl "
        "frontiers and domain-mixture accounting at corpus scale. URLs "
        "are synthesized from table columns, so the oracle rebuilds "
        "every extracted part from the same inputs — golden by "
        "construction, no URL-grammar divergence risk.",
)
def scalar_url_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "events_sessionize_dynamic_gap",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               ts + CASE WHEN event_type = 'purchase'
                         THEN INTERVAL 60 MINUTE
                         ELSE INTERVAL 30 MINUTE END AS end_ts
        FROM events),
    m AS (
        SELECT user_id, ts, event_id, end_ts,
               max(end_ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_max
        FROM g),
    flagged AS (
        -- Both windows order by (ts, event_id): the running sum MUST scan
        -- rows in the same total order the new-session flags were computed
        -- under, or same-timestamp events can land in the wrong session.
        -- Exact-boundary convention (empirically pinned, Spark 4.1: two
        -- events at t and t+gap yield ONE session ending t+2*gap): an
        -- event landing exactly at the current session end MERGES, so a
        -- new session starts only when ts > prev_max, strictly.
        SELECT user_id, ts, end_ts,
               sum(CASE WHEN prev_max IS NULL OR ts > prev_max
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM m)
    SELECT user_id,
           min(ts) AS session_start,
           max(end_ts) AS session_end,
           count(*) AS n_events
    FROM flagged
    GROUP BY user_id, sid
    """,
    doc="DYNAMIC-GAP sessionization: F.session_window with a PER-EVENT "
        "gap expression (purchases hold sessions open 60 min, everything "
        "else 30) — the built-in covers what a fixed gap cannot: "
        "event-weighted session semantics. Session merge rule is "
        "interval union (each event contributes [ts, ts+gap]; "
        "overlapping windows coalesce), which the oracle replays as the "
        "classic running-max sweep: new session when ts exceeds the max "
        "end of all PRECEDING events. Works identically in streaming "
        "(the watermarked form of events_sessionize).",
)
def events_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey,
           round(t.o_totalprice, 2) AS top_price
    FROM customer c JOIN LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2) t ON true
    """,
    doc="LATERAL correlated subquery via the Spark 4 DataFrame API "
        "(df.lateralJoin + Column.outer()): each customer's top-2 orders "
        "through a correlated ORDER+LIMIT — the per-row-subquery SHAPE, "
        "which Catalyst decorrelates into the same window top-k plan "
        "topk_orders_per_customer writes by hand (DecorrelateInnerQuery "
        "rewrites the limit into a rank filter — no per-row execution "
        "survives to the physical plan). The API matters for generated/"
        "migrated SQL where LATERAL is the source idiom.",
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders")
    return c.lateralJoin(
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(2)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("top_price"))
    ).select("c_custkey", "o_orderkey", "top_price")


@register(
    "sink_roundtrip_kv",
    oracle="""
    SELECT CAST(o_custkey AS BIGINT) AS cust_id,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_spend
    FROM orders
    GROUP BY o_custkey
    """,
    doc="S14 under the hash gate: a per-customer rollup published through "
        "kv_sink (foreachPartition, one writer per executor partition, "
        "batched puts of 25 — the DynamoDB BatchWriteItem shape the "
        "reference loops row-at-a-time, populator.py:47-58) into a "
        "file-backed KV fixture, then read back and reduced per key "
        "exactly as an idempotent KV table converges under at-least-once "
        "delivery with deterministic keys. The hash certifies the "
        "batching loop loses no row, splits no batch wrong, and "
        "round-trips longs and doubles. The JSONL shards stand in for "
        "the network client; foreachPartition + the batch loop are the "
        "production path, assuming only that executors reach the store "
        "(here: a shared local dir).",
)
def sink_roundtrip_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import uuid as _uuid

    from ..sources.sinks import kv_sink

    store = _scratch_dir("kv_store")

    def writer_factory():
        # one "client connection" per partition: an append-only JSONL
        # shard, the filesystem analogue of a boto3 batch_writer()
        shard = _os.path.join(store, f"shard-{_uuid.uuid4().hex}.jsonl")
        fh = open(shard, "a")

        def put_batch(items):
            for it in items:
                fh.write(_json.dumps(it) + "\n")
            fh.flush()

        return put_batch

    rollup = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust_id"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )
    # dimension-sized rollup: a handful of fat writer partitions beats 32
    # near-empty ones (each costs a python worker + a client connection);
    # at real scale the partition count tracks the STORE's write
    # concurrency, not the upstream shuffle width
    kv_sink(rollup.coalesce(4), writer_factory, batch_size=25)
    back = spark.read.schema(
        "cust_id bigint, n_orders bigint, total_spend double"
    ).json(store)
    # KV read-back semantics: one value per key. Deterministic puts make
    # any duplicate delivery identical, so max() == the stored value.
    return back.groupBy("cust_id").agg(
        F.max("n_orders").alias("n_orders"),
        F.max("total_spend").alias("total_spend"),
    )
