"""Deterministic corpus sampling operators.

A 100 TB training-data pipeline subsamples constantly — per-source mixing
ratios, eval holdouts, ablation slices — and the samples must be
REPRODUCIBLE across runs, engines, and repartitions. Spark's built-in
``df.sample`` is none of those things: it draws from a per-partition RNG, so
the selected rows change with partitioning, task retries, and engine.

Both operators here key the draw on md5 of a stable id instead:

- :func:`deterministic_sample` — Bernoulli-style p-fraction sample: keep a
  row iff the first 4 hex chars of ``md5(salt:key)`` sort below a threshold
  string derived from the fraction. Fixed-width lowercase-hex string
  comparison IS the numeric comparison, and md5 is engine-portable, so any
  SQL engine replays the exact row set (the correctness oracle does).
- :func:`stratified_sample_k` — exactly min(k, |group|) rows per group: the
  k smallest ``md5(salt:key)`` values per group (ties by key). A
  deterministic "reservoir" for fixed-size per-stratum holdouts, e.g. k
  eval docs per language.

Scale shape: the Bernoulli form is a pure map-side filter (pushes to the
scan, no shuffle, no RNG state). The stratified form is one window over the
group key — the same single-shuffle rank-filter pattern as topk.py, and at
100 TB it benefits from the same pre-aggregated partial top-k AQE gives any
rank<=k window filter.

Reference parity note: the reference pipeline has no sampling stage (it
processes <2k listings/run); these belong to the 100 TB training-data
extension surface alongside dedup (operators/dedup.py) and quality scoring
(functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX_DIGITS = 4  # 16-bit draw: fraction granularity 1/65536


def _draw(key: Column, salt: str) -> Column:
    """The portable uniform draw: first 4 hex chars of md5('salt:key')."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), key.cast("string"))), 1, _HEX_DIGITS
    )


def sample_threshold_hex(fraction: float) -> str:
    """The keep-threshold as a fixed-width lowercase hex string.

    A row survives iff draw < threshold; floor keeps the realized fraction
    <= requested. Exposed so the SQL oracle can embed the identical literal.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1] (got {fraction})")
    return format(min(int(fraction * 16**_HEX_DIGITS), 16**_HEX_DIGITS - 1), "04x")


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by md5(salt:key) — stable across
    runs, partitionings, and engines. Change ``salt`` for an independent
    re-draw (disjoint-ish sample from the same corpus)."""
    return df.filter(_draw(F.col(key_col), salt) < F.lit(sample_threshold_hex(fraction)))


def stratified_sample_k(
    df: DataFrame, group_col: str, key_col: str, k: int, salt: str = ""
) -> DataFrame:
    """Exactly min(k, group size) rows per group: the k smallest
    md5(salt:key) draws, ties broken by key for full determinism."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    w = Window.partitionBy(group_col).orderBy(
        _draw(F.col(key_col), salt), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _thin_to_shares(
    df: DataFrame,
    cw: DataFrame,
    group_col: str,
    share_col: str,
    key_col: str,
    salt: str,
) -> DataFrame:
    """Downsample ``df`` to target shares without upsampling: keep group
    g's rows with ``p_g = share_g * min_h(n_h / share_h) / n_g`` (capped
    at 1). ``cw`` is the |groups|-row frame (group_col, share_col, _n,
    _ratio = _n / share). Draws are md5(salt:key) widened to 8 hex chars
    and compared against a per-group threshold computed in the plan."""
    m = cw.agg(F.min("_ratio").alias("_m"))
    probs = (
        cw.crossJoin(F.broadcast(m))
        .withColumn(
            "_p",
            F.least(
                F.col(share_col) * F.col("_m") / F.col("_n").cast("double"),
                F.lit(1.0),
            ),
        )
        .withColumn(
            "_thr",
            F.when(F.col("_p") >= 1.0, F.lit("g")).otherwise(
                F.lower(
                    F.lpad(
                        F.hex(F.floor(F.col("_p") * F.lit(4294967296.0)).cast("bigint")),
                        8,
                        "0",
                    )
                )
            ),
        )
        .select(group_col, "_thr")
    )
    draw = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))), 1, 8
    )
    return (
        df.join(F.broadcast(probs), group_col)
        .filter(draw < F.col("_thr"))
        .drop("_thr")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Downsample groups to a TARGET MIXTURE (the domain-reweighting step
    of every pretraining data recipe: "20% code, 30% web, ...").

    ``weights`` maps group value -> target share (must sum to ~1; groups
    not listed are dropped). The operator computes, in-plan, the largest
    total size achievable at exactly those shares without upsampling —
    ``M = min_g(n_g / w_g)`` — and keeps each group's rows with probability
    ``p_g = w_g * M / n_g`` (the binding group keeps ~everything, the
    overrepresented ones thin out). Draws are the same md5(salt:key) device
    as :func:`deterministic_sample`, widened to 8 hex chars and compared
    against a PER-GROUP threshold computed inside the plan with integer/
    double ops both engines evaluate identically — so the exact kept set
    is engine-replayable even though the probabilities are data-dependent.

    Scale shape: one narrow groupBy(count) over the group column, a
    broadcast join of the |groups|-row probability dim onto the corpus,
    then a map-side filter. Expected (not exact) realized shares, like any
    Bernoulli scheme; pair with :func:`stratified_sample_k` when exact
    per-group counts matter more than unbiasedness.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    total_w = sum(weights.values())
    if abs(total_w - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1 (got {total_w})")
    spark = df.sparkSession
    wdim = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(g).alias(group_col), F.lit(float(w)).alias("_w")
                        )
                        for g, w in sorted(weights.items())
                    ]
                )
            ).alias("_s")
        )
        .select("_s.*")
    )
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    # In-plan guard: a weight group with NO rows would make the requested
    # mixture unachievable (e.g. {'en':.5,'xx':.5} with no 'xx' rows ->
    # 100% 'en' after the join). The weight dim LEFT-joins the counts and
    # any unmatched group trips raise_error when the tiny probability dim
    # is computed — no driver-side distinct-collect, so the guard costs
    # nothing extra at 100 TB (the counts aggregate is needed anyway).
    cw = (
        wdim.join(counts, group_col, "left")
        .withColumn(
            "_n",
            F.when(
                F.col("_n").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("weight group absent from the data: "),
                        F.col(group_col),
                        F.lit(
                            " — the requested mixture is unachievable "
                            "(remove it or fix the group column)"
                        ),
                    )
                ).cast("long"),
            ).otherwise(F.col("_n")),
        )
        .withColumn("_ratio", F.col("_n").cast("double") / F.col("_w"))
    )
    return _thin_to_shares(df, cw, group_col, "_w", key_col, salt)


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled domain rebalancing — the multilingual/multi-source
    recipe (mBERT/XLM-R/mT5 style): target share of group g proportional to
    ``n_g ** alpha``, flattening the head without fully uniforming the tail
    (alpha=1 keeps natural proportions, alpha=0 is uniform).

    Like :func:`mixture_sample` this downsamples to the largest corpus
    achieving the target shares without upsampling. The normalization
    constant of the target distribution CANCELS in the keep probability:

        p_g = s_g * min_h(n_h / s_h) / n_g        with s_g = n_g ** alpha

    so no cross-group SUM is ever computed — that matters for the hash
    gate, because a sum of doubles is summation-order-dependent while
    min() over identical doubles is exact. For ``alpha = 0.5`` (the
    common choice) ``s_g = sqrt(n_g)`` and p_g reduces to
    ``sqrt(n_min / n_g)`` from IEEE-exact sqrt/divide, so any SQL engine
    replays the exact kept set; other alphas go through ``pow``, whose
    last-ulp behavior can differ between libm builds (documented trade —
    use mixture_sample with precomputed weights when bit-replay matters
    at alpha != 0.5).

    Scale shape: one narrow groupBy(count), a broadcast |groups|-row
    probability dim, a map-side md5-threshold filter — identical to
    mixture_sample.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1] (got {alpha})")
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    nd = F.col("_n").cast("double")
    if alpha == 0.5:
        s = F.sqrt(nd)
    else:
        s = F.pow(nd, F.lit(float(alpha)))
    cw = counts.withColumn("_s", s).withColumn("_ratio", nd / F.col("_s"))
    return _thin_to_shares(df, cw, group_col, "_s", key_col, salt)


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    target_fraction: float,
    salt: str = "",
) -> DataFrame:
    """Weighted Bernoulli sample: row i survives with probability
    ``min(1, c * w_i)`` where ``c = target_fraction * N / sum(w)`` — so the
    EXPECTED kept count is ``target_fraction * N`` and each row's chance is
    proportional to its weight (quality-weighted / temperature-style corpus
    reweighting). Zero/negative weights never survive.

    Design notes for the hash gate: the draw is the usual md5(salt:key)
    device, and the per-row threshold is built from ``c * w_i`` with
    multiply/divide/floor ONLY — no pow/ln, whose last-ulp behavior varies
    between libm implementations — so any SQL engine replays the exact
    kept set. Rows with ``c * w_i >= 1`` always survive (the 'g' sentinel
    sorts above every hex draw). Scale shape: one aggregate for (N,
    sum(w)) broadcast as a 1-row frame, then a map-side filter.
    """
    if not 0.0 < target_fraction <= 1.0:
        raise ValueError(f"target_fraction must be in (0, 1] (got {target_fraction})")
    totals = df.agg(
        F.count("*").cast("double").alias("_n"),
        F.sum(F.col(weight_col).cast("double")).alias("_sw"),
    )
    draw = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))), 1, 8
    )
    p = F.least(
        F.lit(target_fraction) * F.col("_n") / F.col("_sw") * F.col(weight_col).cast("double"),
        F.lit(1.0),
    )
    thr = F.when(p >= 1.0, F.lit("g")).otherwise(
        F.lower(F.lpad(F.hex(F.floor(p * F.lit(4294967296.0)).cast("bigint")), 8, "0"))
    )
    return (
        df.crossJoin(F.broadcast(totals))
        .filter((F.col(weight_col) > 0) & (draw < thr))
        .drop("_n", "_sw")
    )


def upsample_repeat(
    df: DataFrame,
    group_col: str,
    epochs: dict[str, float],
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Fractional EPOCH REPETITION — the upsampling half of a data-mixing
    recipe (mixture/temperature sampling only thin groups down; rare
    high-value domains get repeated instead: "4 epochs of Wikipedia,
    0.3 epochs of CommonCrawl").

    ``epochs`` maps group value -> target epoch count w (>= 0; groups not
    listed are dropped). Every row is emitted ``floor(w)`` times plus one
    more with probability ``frac(w)``, decided by the same md5(salt:key)
    draw as :func:`deterministic_sample` — so expected emitted volume is
    exactly ``w * n_g`` per group and the emitted multiset is
    bit-replayable by any SQL engine. An ``epoch`` column (0-based copy
    index) distinguishes repeats so downstream shuffling/packing can
    spread them across batches.

    Scale shape: a broadcast |groups|-row dim join, then a map-side
    ``explode(sequence(...))`` — rows fan out locally, nothing shuffles.
    Repetition multiplies tokens seen, not unique information; pair with
    a dedup pass if the corpus may already contain copies.
    """
    if not epochs:
        raise ValueError("epochs must be non-empty")
    for g, w in epochs.items():
        if w < 0:
            raise ValueError(f"epoch count must be >= 0 (got {g}={w})")
    spark = df.sparkSession
    rows = [
        (g, int(w), format(min(int((w - int(w)) * 16**8), 16**8 - 1), "08x"))
        for g, w in sorted(epochs.items())
    ]
    wdim = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias(group_col),
                        F.lit(base).alias("_whole"),
                        F.lit(thr).alias("_fthr"),
                    )
                    for g, base, thr in rows
                ]
            )
        )
    )
    draw = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))), 1, 8
    )
    n_copies = F.col("_whole") + F.when(draw < F.col("_fthr"), 1).otherwise(0)
    return (
        df.join(F.broadcast(wdim), group_col)
        .withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1))
        )
        .drop("_whole", "_fthr", "_n_copies")
    )


def split_assign(
    df: DataFrame, key_col: str, bounds: list[tuple[str, float]], salt: str = ""
) -> DataFrame:
    """Assign every row to a named split (train/val/test, ...) — adds a
    ``split`` string column, drops nothing.

    ``bounds`` is an ordered list of (name, cumulative_fraction) with the
    last fraction == 1.0: a row lands in the first split whose cumulative
    threshold its md5(salt:key) draw sorts below. The same hex-threshold
    trick as :func:`deterministic_sample`, so split membership is stable
    across runs/engines/partitionings and any SQL engine replays it with a
    CASE expression. Pure map-side — no shuffle.
    """
    if len(bounds) < 2:
        raise ValueError("need at least 2 splits")
    fracs = [f for _, f in bounds]
    if sorted(fracs) != fracs or fracs[-1] != 1.0:
        raise ValueError(f"bounds must be ascending and end at 1.0 (got {fracs})")
    draw = _draw(F.col(key_col), salt)
    expr = F.lit(bounds[-1][0])
    for name, frac in reversed(bounds[:-1]):
        expr = F.when(draw < F.lit(sample_threshold_hex(frac)), name).otherwise(expr)
    return df.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    key_col: str,
    token_col: str,
    capacity: int,
    salt: str = "",
    n_buckets: int = 16,
) -> DataFrame:
    """Chunk a deterministically-shuffled corpus into fixed-token-budget
    training sequences — adds ``bucket`` (int) and ``seq`` (bigint) columns.

    The distributed form of "shuffle the corpus, then greedily fill
    512-token packs": rows are first scattered into ``n_buckets`` hash
    buckets (first hex char of the md5 draw), then within each bucket
    ordered by the full draw and assigned to pack ``floor(running_start /
    capacity)``. Buckets are independent, so the single window shuffle
    parallelizes across them instead of serializing the whole corpus
    through one cumulative sum — the property that keeps this runnable at
    100 TB. Docs may straddle a pack boundary (standard chunked-packing
    approximation); a doc longer than ``capacity`` just owns several packs.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1 (got {capacity})")
    if not 1 <= n_buckets <= 16:
        raise ValueError(f"n_buckets must be in [1, 16] (got {n_buckets})")
    draw = _draw(F.col(key_col), salt)
    bucket = F.conv(F.substring(draw, 1, 1), 16, 10).cast("int") % n_buckets
    out = df.withColumn("_draw", draw).withColumn("bucket", bucket)
    w = (
        Window.partitionBy("bucket")
        .orderBy("_draw", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(token_col).over(w) - F.col(token_col)
    return out.withColumn(
        "seq", F.floor(start / F.lit(capacity)).cast("bigint")
    ).drop("_draw")


def epoch_upsample(
    df: DataFrame,
    epochs_milli_col: str,
    key_col: str = "doc_id",
    salt: str = "ep1",
) -> DataFrame:
    """Replicate each row to realize a per-row epoch multiplier given in
    integer MILLI-epochs (1000 = exactly one copy) — the upsampling half
    of a pretraining data recipe (mixture_sample only thins; repeating a
    small high-quality source for 2-4 epochs needs this).

    Every row gets ``floor(e/1000)`` full copies plus one more iff its
    16-bit md5 draw clears the fractional remainder: ``draw * 1000 <
    (e % 1000) * 65536`` — cross-multiplied integers, so the realized
    copy set is bit-identical on any engine.  Adds a ``copy`` index
    (0-based).  Map-side only: ``array_repeat`` + ``posexplode``, output
    rows bounded by the epoch cap the caller applied to the multiplier —
    no shuffle, no window, safe at any corpus size.
    """
    e = F.col(epochs_milli_col).cast("bigint")
    draw_int = F.conv(_draw(F.col(key_col), salt), 16, 10).cast("bigint")
    extra = (draw_int * 1000 < (e % 1000) * (16 ** _HEX_DIGITS)).cast("int")
    n_copies = (F.expr(f"{epochs_milli_col} div 1000").cast("int") + extra)
    return df.select(
        "*",
        F.posexplode(F.array_repeat(F.lit(1), n_copies)).alias("copy", "_one"),
    ).drop("_one")
