"""Helpers and constants that plans of two or more query families use.
This module registers no query.

- ``scratch_dir``: a per-query scratch directory with pid-stamped,
  self-sweeping roots;
- the planted dedup corpus (``SQL_CORPUS``, ``planted_dedup_artifact``)
  and its MinHash / LSH constants and SQL fragments;
- Gopher quality-rule expressions shared by ``text_gopher_rules`` and
  the corpus funnels;
- fixed IVF centroid ids (``IVF_CENTS``) shared by the persisted-index
  ANN queries and the streaming index ingest.
"""

from __future__ import annotations

import os as _os
import os.path as _os_path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import literal_dim, table
from ..functions import text as _T
from ..functions.scale import fan_out
from ..functions.text import tokenize
from ..operators import dedup as _D
from ..operators.similarity import _hyperplane as _hplane


# The checked-in fixture files the source-format queries scan.
FIXTURES_DIR = _os_path.join(
    _os_path.dirname(_os_path.dirname(_os_path.dirname(_os_path.abspath(__file__)))),
    "tests",
    "fixtures",
)


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


def scratch_dir(key: str) -> str:
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


LANGID_SQL_SCORES = []
for _code in sorted(_T.LANG_MARKERS):
    _marks = ", ".join(f"'{w}'" for w in _T.LANG_MARKERS[_code])
    LANGID_SQL_SCORES.append(
        f"len(list_filter(toks, x -> x IN ({_marks}))) AS hits_{_code}"
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection suite — MinHash / LSH / Jaccard / SimHash, each
# replayed exactly in SQL (md5 is the shared hash primitive). Candidates and
# dedup run over a corpus with deterministically PLANTED duplicates (an exact
# copy and a 3-token-appended near copy per doc, ids offset by 1e5/2e5) so
# the pair space is non-trivial: the raw documents table has no dup texts.
# ---------------------------------------------------------------------------


NDD_HASHES = 8
NDD_BANDS = 4
NDD_RPB = NDD_HASHES // NDD_BANDS  # rows per band

SQL_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents
  UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' qq xq zq' AS text FROM documents
)"""


def planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
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
DEDUP_PAIR_FLOOR = 0.5

_DEDUP_ARTIFACTS: dict[tuple[str, str, str], DataFrame] = {}


def planted_dedup_artifact(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Session-scoped LAZY memo of the planted-corpus measurement
    artifacts the dedup QA family shares:

    - ``corpus``          the checkpointed planted corpus
    - ``shingle_arrays``  its distinct shingle STRINGS per doc (the r11
                          shared stage: ONE tokenize/n-gram build feeds
                          both the signature and the PPJoin pipelines via
                          the operators' ``shingles=`` input)
    - ``sigs``            its MinHash signature frame (NDD_HASHES seeds)
    - ``pairs_floor``     exact PPJoin pairs at the loosest (0.5) floor
    - ``cand_prod``       LSH candidates at the PRODUCTION config
                          (NDD_BANDS x NDD_RPB)
    - ``capped_corpus``   the CC_CAP-capped planted corpus (the demo
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
            df = fan_out(planted_corpus(spark, sf_dir), "doc_id").localCheckpoint()
        elif name == "shingle_arrays":
            df = _D.shingle_string_arrays(
                planted_dedup_artifact(spark, sf_dir, "corpus")
            ).localCheckpoint()
        elif name == "sigs":
            df = _D.minhash_signatures(
                planted_dedup_artifact(spark, sf_dir, "corpus"),
                num_hashes=NDD_HASHES,
                shingles=planted_dedup_artifact(spark, sf_dir, "shingle_arrays"),
            ).localCheckpoint()
        elif name == "pairs_floor":
            df = _D.jaccard_pairs(
                planted_dedup_artifact(spark, sf_dir, "corpus"),
                threshold=DEDUP_PAIR_FLOOR,
                shingles=planted_dedup_artifact(spark, sf_dir, "shingle_arrays"),
            ).localCheckpoint()
        elif name == "cand_prod":
            df = _D.lsh_candidate_pairs(
                planted_dedup_artifact(spark, sf_dir, "sigs"),
                bands=NDD_BANDS,
                rows_per_band=NDD_RPB,
            ).localCheckpoint()
        elif name == "capped_corpus":
            # _capped_planted/CC_CAP are defined later in this module;
            # resolved at call time (the memo never runs during import)
            df = fan_out(_capped_planted(spark, sf_dir, CC_CAP), "doc_id").localCheckpoint()
        elif name == "capped_clusters":
            df = _D.near_dedup_clusters(
                planted_dedup_artifact(spark, sf_dir, "capped_corpus"),
                num_hashes=NDD_HASHES,
                bands=NDD_BANDS,
                threshold=0.8,
            ).localCheckpoint()
        else:  # pragma: no cover - caller bug
            raise KeyError(name)
        _DEDUP_ARTIFACTS[key] = df
    return df


def sql_shingles(src: str) -> str:
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


MINHASH_P = 2147483647  # operators/dedup.MINHASH_P (2^31 - 1)

SQL_SIG = f"""
seeds AS (SELECT unnest(range(0, {NDD_HASHES})) AS s),
hs AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {MINHASH_P} AS h
  FROM sh
),
sig AS (
  SELECT doc_id, CAST(s AS INT) AS seed,
         min((h * (2 * s + 1) + s * 7919) % {MINHASH_P}) AS minhash
  FROM hs CROSS JOIN seeds GROUP BY doc_id, s
)"""

SQL_BANDED_CAND = f"""
banded AS (
  SELECT doc_id, CAST(seed // {NDD_RPB} AS INT) AS band,
         string_agg(CAST(seed AS VARCHAR) || '=' || CAST(minhash AS VARCHAR), '|'
                    ORDER BY CAST(seed AS VARCHAR) || '=' || CAST(minhash AS VARCHAR)) AS band_sig
  FROM sig GROUP BY doc_id, seed // {NDD_RPB}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)"""


# ---------------------------------------------------------------------------
# ANN (hyperplane LSH) + embedding near-dups — the hyperplanes are
# deterministic (seeded md5 stream), so the oracle embeds the SAME plane
# values as literals and replays bucketing + cosine in SQL.
# ---------------------------------------------------------------------------


ANN_PLANES = 8
ANN_DIM = 64
_PLANES = [_hplane(s, ANN_DIM) for s in range(ANN_PLANES)]


def sql_bucket(vec: str) -> str:
    """Replay hyperplane_bucket: per plane, sign of the index-ordered dot
    product -> '1'/'0'; concatenated bits form the bucket key."""
    bits = []
    for p in _PLANES:
        lits = "[" + ", ".join(repr(v) for v in p) + "]"
        bits.append(
            f"CASE WHEN list_sum([({vec})[i] * ({lits})[i] FOR i IN range(1, {ANN_DIM + 1})]) >= 0 "
            "THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


# ---------------------------------------------------------------------------
# Sources: the CSV ingest path (S5+S6) exercised end-to-end over checked-in
# fixture files shaped exactly like the reference scraper's per-run CSVs.
# ---------------------------------------------------------------------------


CSV_FIXTURE_GLOB = _os_path.join(FIXTURES_DIR, "csv", "*.csv")


# ---------------------------------------------------------------------------
# Transitive near-dup clustering: LSH-verified pairs as edges -> iterative
# min-label propagation (Spark) vs WITH RECURSIVE reachability (oracle) —
# an oracle-checked ITERATIVE algorithm.
# ---------------------------------------------------------------------------

CC_CAP = 1000


def _capped_planted(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < cap)
    exact = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq xq zq")).alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


def gopher_stat_columns() -> dict:
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


def gopher_keep() -> F.Column:
    """The combined keep predicate over the rounded ratio columns produced
    from :func:`gopher_stat_columns` output."""
    mean_len = F.round(F.col("char_sum") / F.col("n_words"), 4)
    top_frac = F.round(F.col("top_n") / F.col("n_words"), 4)
    uniq = F.round(F.col("n_uniq") / F.col("n_words"), 4)
    return (
        F.col("n_words").between(40, 500)
        & mean_len.between(2.5, 8.0)
        & (top_frac <= 0.12)
        & (uniq >= 0.4)
    )


QC_BUCKETS = 64
QC_BIAS = -0.35
# Deterministic "trained" weights: bucket b gets a fixed literal weight.
# A real model drops in by replacing this literal dim with its exported
# (bucket, weight) table — the plan is identical.
QC_WEIGHTS = [(b, round(((b * 37 + 11) % 97) / 97.0 - 0.5, 4)) for b in range(QC_BUCKETS)]


def qc_doc_micros(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The linear quality classifier's per-document logit, (doc_id,
    micros): hashed bag-of-words buckets (md5-derived, engine-portable),
    length-normalized counts dotted with the broadcast QC_WEIGHTS dim,
    each per-bucket contribution rounded to integer micro-units before
    the per-doc sum (order-independent).

    One corpus pass: doclen is the per-doc SUM of bucket counts, not a
    second explode of the token stream; feats feeds both consumers from
    a localCheckpoint (no subplan CSE in Spark)."""
    wdim = literal_dim(spark, QC_WEIGHTS, "bucket int, wgt double")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int")
        % QC_BUCKETS
    )
    feats = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count("*").alias("cnt")
    ).localCheckpoint()
    dl = feats.groupBy("doc_id").agg(F.sum("cnt").alias("dl"))
    return (
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


def qc_score() -> Column:
    """Sigmoid quality score of a qc_doc_micros row, rounded to 4 dp."""
    return F.round(
        1.0 / (1.0 + F.exp(-(F.col("micros") / 1000000.0 + F.lit(QC_BIAS)))), 4
    )


CHUNK_SIZE = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def merge_fixed_spans(starts: DataFrame, part_col: str, pos_col: str,
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


SQL_ISLANDS = """
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


BLOOM_M = 65536  # bits


def bloom_bit_col(key: F.Column, j: int, m: int = BLOOM_M) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(key, F.lit(f":{j}"))), 1, 15), 16, 10
        ).cast("bigint")
        % m
    )


# ---------------------------------------------------------------------------
# Shared quality score: alphabetic-character ratio in micro-units.
# ---------------------------------------------------------------------------

def score_micro() -> Column:
    """round(1e6 * alpha_chars / n_chars) — one IEEE division on exact
    integer inputs, rounded immediately to bigint (engine-exact)."""
    alpha = F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
    return (
        F.round(F.lit(1_000_000.0) * alpha / F.col("n_chars"))
        .cast("bigint")
        .alias("score_micro")
    )


SCORE_SQL = (
    "CAST(round(1000000.0 * length(regexp_replace(lower(text), '[^a-z]', "
    "'', 'g')) / n_chars) AS BIGINT)"
)


def cum_small(df: DataFrame, key_col: str, val_cols: list[str]) -> DataFrame:
    """Inclusive running sums over a SMALL keyed frame (k rows, k fixed —
    deciles, calendar buckets) via the triangular self-join, so even the
    tiny cumulative step stays window-free."""
    a = df.alias("a")
    # broadcast: the <= condition would otherwise compile to
    # CartesianProduct; both sides are k-row frames
    b = F.broadcast(df.alias("b"))
    keep = [F.col(f"a.{c}").alias(c) for c in df.columns]
    sums = [
        F.sum(F.col(f"b.{c}")).cast("long").alias(f"cum_{c}") for c in val_cols
    ]
    return (
        a.join(b, F.col(f"b.{key_col}") <= F.col(f"a.{key_col}"))
        .groupBy(*keep)
        .agg(*sums)
    )


RW_HALF_US = 1_800_000_000  # +-30 min in microseconds
RW_BIN_US = 3_600_000_000  # 1 h bins ~ the interval width


def error_window_sides(spark: SparkSession, sf_dir: str):
    """(errors, purchases) of the error-window range join, times in epoch
    microseconds: each error event's +-RW_HALF_US window (err_id, user_id,
    lo, hi), materialized because the join AND the zero-fill read it, and
    the purchase points (p_id, user_id, t)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    errors = (
        ev.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            "user_id",
            (F.col("t") - RW_HALF_US).alias("lo"),
            (F.col("t") + RW_HALF_US).alias("hi"),
        )
        .localCheckpoint()
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "t"
    )
    return errors, purchases


def error_window_counts(errors: DataFrame, matches: DataFrame) -> DataFrame:
    """Per error window: the matched purchase count (0 when none) and the
    lowest matched p_id, from the (err_id, p_id) ``matches``."""
    agg = matches.groupBy("err_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("p_id").cast("bigint").alias("mn"),
    )
    return (
        errors.select("err_id", "user_id")
        .join(agg, "err_id", "left")
        .select(
            "err_id",
            "user_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_purchases"),
            F.col("mn").alias("first_purchase_id"),
        )
        .orderBy("err_id")
    )


# Quantizer ids: BASE-corpus vectors (none =3 or =7 mod 10, so neither
# the query set nor the late batch contributes a centroid), all present
# at every test SF (embeddings has >=500 ids at sf0.001+).
IVF_CENTS = (0, 2, 4, 6, 8, 12, 14, 16)
IVF_CENTS_SQL = str(IVF_CENTS)

IVF_L2 = (
    "round(sqrt(list_sum(["
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) "
    "FOR i IN range(1, 65)])), 6)"
)
