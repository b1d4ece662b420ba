"""Round-5 fifth batch: time-series linear interpolation, contrastive
negative sampling, hot-key skew diagnosis, and distributed model
evaluation (confusion-matrix metrics + rank AUC).

Five more named operators:

- Linear interpolation over an hourly gap-filled series — the
  `interpolate()` companion to events_gapfill_hourly's zero-fill:
  missing hours get the value linearly interpolated between the
  nearest observed neighbors (TimescaleDB's time_bucket_gapfill +
  interpolate shape). Gaps are both natural (hours with no events)
  and planted (every hour-of-day ≡ 3 mod 7 is masked), so the
  interpolation path is exercised at every scale factor.
- Negative sampling for contrastive pairs — the bucket-ring device:
  every doc hashes to one of B buckets, each bucket elects a
  representative by md5 draw, and anchor i's k negatives are the
  representatives of buckets (b+1..b+k) mod B. No cross join, no
  per-anchor scan: one 16-row broadcast of representatives.
- Hot-key skew diagnosis: the per-key histogram ranked by count with
  share and a recommended salt factor ceil(cnt * n_keys / total) —
  the report that decides when operators/skew.py's salted join is
  worth its extra exchange.
- Classification metrics: confusion matrix + accuracy / precision /
  recall / F1 from a thresholded score vs a label, all counts exact,
  ratios in micro-units — distributed model evaluation as one
  map-side-combined aggregate.
- Rank AUC (Mann-Whitney form with exact tie correction): AUC =
  (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) using average ranks
  for tied scores — the standard ranking-quality metric computed
  without materializing pairs.

Reference parity: the reference pipeline (glassdoor-scraper/src/
main.py) has no time-series, sampling, planner, or evaluation
surface; this module belongs to the extended 100 TB training-data
scope. Float discipline (plans/queries.py header): every metric is
exact bigint arithmetic with at most one IEEE division rounded
immediately to micro-units; values aggregate as integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import global_cumsum
from .registry import register
from .llm_round5d import _SCORE_SQL, _score_micro

# ---------------------------------------------------------------------------
# Linear interpolation over hourly gaps
# ---------------------------------------------------------------------------


@register(
    "events_interpolate_linear",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT t.event_type,
               unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    ),
    agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    joined AS (
        SELECT g.event_type, g.hour,
               CASE WHEN hour(g.hour) % 7 = 3 THEN NULL ELSE a.cents END
                   AS cents
        FROM grid g
        LEFT JOIN agg a ON a.event_type = g.event_type AND a.hour = g.hour
    ),
    pos AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY hour) AS rn
        FROM joined
    ),
    ctx AS (
        SELECT *,
               last_value(cents IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS UNBOUNDED PRECEDING) AS prev_c,
               last_value(CASE WHEN cents IS NOT NULL THEN rn END
                          IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS UNBOUNDED PRECEDING) AS prev_rn,
               first_value(cents IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_c,
               first_value(CASE WHEN cents IS NOT NULL THEN rn END
                           IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_rn
        FROM pos
    )
    SELECT event_type, hour,
           CASE WHEN cents IS NOT NULL THEN 'observed'
                WHEN prev_c IS NOT NULL AND next_c IS NOT NULL
                    THEN 'interpolated'
                ELSE 'edge' END AS status,
           CASE WHEN cents IS NOT NULL THEN cents
                WHEN prev_c IS NOT NULL AND next_c IS NOT NULL
                    THEN prev_c + CAST(round(
                        (next_c - prev_c) * (rn - prev_rn)
                        / (next_rn - prev_rn)) AS BIGINT)
                ELSE NULL END AS cents_filled
    FROM ctx
    ORDER BY event_type, hour
    """,
    doc="Linear interpolation over an hourly gap-filled series (the "
        "TimescaleDB time_bucket_gapfill + interpolate shape): dense "
        "(event_type x hour) spine, hourly cent sums joined on, every "
        "hour-of-day = 3 mod 7 masked as a planted gap on top of the "
        "natural ones, and each missing hour filled as prev + "
        "round((next-prev) * gap_position / gap_length) between the "
        "nearest observed neighbors via IGNORE NULLS running windows; "
        "rows before the first / after the last observation report "
        "'edge' and stay null. Because the spine is dense and evenly "
        "spaced, row positions ARE hour offsets, so the interpolation "
        "weights are exact bigint rank differences — the single "
        "division per gap row is one IEEE op rounded immediately. The "
        "100 TB shape: one rollup shuffle + one partition-by-series "
        "sort serve all four neighbor windows (same partitioning, one "
        "sort order); the spine is generated, never scanned; per-series "
        "state is the series length, and the documented escalation for "
        "very long series is range-bucketing the time axis with "
        "boundary-observation exchange (two rows per bucket).",
)
def events_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # ONE scan yields both the type dim and the global bounds (the tiny
    # per-type frame is checkpointed for its two consumers).
    per_type = (
        ev.groupBy("event_type")
        .agg(F.min("ts").alias("t_lo"), F.max("ts").alias("t_hi"))
        .localCheckpoint()
    )
    bounds = per_type.agg(
        F.date_trunc("hour", F.min("t_lo")).alias("lo"),
        F.date_trunc("hour", F.max("t_hi")).alias("hi"),
    )
    grid = (
        per_type.select("event_type")
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
                "hour"
            ),
        )
    )
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents_obs"))
    joined = grid.join(agg, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.when(F.hour("hour") % 7 == 3, F.lit(None).cast("bigint"))
        .otherwise(F.col("cents_obs"))
        .alias("cents"),
    )
    w_rn = Window.partitionBy("event_type").orderBy("hour")
    pos = joined.withColumn("rn", F.row_number().over(w_rn))
    w_back = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward context = backward context over the REVERSED sort: the
    # UnboundedPreceding frame updates incrementally (O(n)), while an
    # UnboundedFollowing frame recomputes per row (O(n^2) per partition)
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy(F.col("rn").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rn_if_obs = F.when(F.col("cents").isNotNull(), F.col("rn"))
    ctx = pos.select(
        "*",
        F.last("cents", ignorenulls=True).over(w_back).alias("prev_c"),
        F.last(rn_if_obs, ignorenulls=True).over(w_back).alias("prev_rn"),
        F.last("cents", ignorenulls=True).over(w_fwd).alias("next_c"),
        F.last(rn_if_obs, ignorenulls=True).over(w_fwd).alias("next_rn"),
    )
    interp = F.col("prev_c") + F.round(
        (F.col("next_c") - F.col("prev_c"))
        * (F.col("rn") - F.col("prev_rn"))
        / (F.col("next_rn") - F.col("prev_rn"))
    ).cast("bigint")
    inner = F.col("prev_c").isNotNull() & F.col("next_c").isNotNull()
    return ctx.select(
        "event_type",
        F.col("hour").cast("timestamp_ntz").alias("hour"),
        F.when(F.col("cents").isNotNull(), "observed")
        .when(inner, "interpolated")
        .otherwise("edge")
        .alias("status"),
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .when(inner, interp)
        .otherwise(F.lit(None).cast("bigint"))
        .alias("cents_filled"),
    ).orderBy("event_type", "hour")


# ---------------------------------------------------------------------------
# Negative sampling (bucket ring)
# ---------------------------------------------------------------------------

_NEG_BUCKETS = 16
_NEG_K = 3
_NEG_SALT = "negrep"


@register(
    "corpus_negative_samples",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id,
               strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                   AS bucket,
               md5('{_NEG_SALT}:' || CAST(doc_id AS VARCHAR)) AS draw
        FROM documents
    ),
    reps AS (
        SELECT bucket, doc_id AS rep_id FROM (
            SELECT bucket, doc_id,
                   row_number() OVER (PARTITION BY bucket
                                      ORDER BY draw, doc_id) AS rk
            FROM bucketed) x
        WHERE rk = 1
    ),
    fanout AS (
        SELECT b.doc_id AS anchor_id, i.i AS neg_i,
               CAST((b.bucket + i.i) % {_NEG_BUCKETS} AS BIGINT) AS nb
        FROM bucketed b
        CROSS JOIN (SELECT unnest(range(1, {_NEG_K} + 1)) AS i) i
    )
    SELECT f.anchor_id, CAST(f.neg_i AS BIGINT) AS neg_i,
           r.rep_id AS negative_id
    FROM fanout f JOIN reps r ON r.bucket = f.nb
    ORDER BY f.anchor_id, neg_i
    """,
    doc="Negative sampling for contrastive pairs (the bucket-ring "
        f"device): every doc hashes to one of {_NEG_BUCKETS} buckets "
        "(first md5 hex digit), each bucket elects a representative by "
        "a salted md5 draw (ties by doc_id), and anchor a's k negatives "
        "are the representatives of buckets (b_a + 1 .. b_a + k) mod B "
        "— guaranteed != anchor because the ring never lands on the "
        "anchor's own bucket for k < B. This is how contrastive / "
        "embedding training sets mine structured negatives at scale "
        "without a cross join: the representative table is B rows, "
        "broadcast; the fan-out is a map-side explode(sequence); there "
        "is exactly ONE aggregate (the election) whose state is B rows. "
        "The documented escalation for per-epoch variety is salting the "
        "draw with the epoch number — same plan, new representatives. "
        "All arithmetic is exact (md5 strings compare lexically, the "
        "election min is (draw, doc_id) lexicographic).",
)
def corpus_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucketed = table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
        ).cast("int").alias("bucket"),
        F.md5(
            F.concat(F.lit(_NEG_SALT), F.lit(":"), F.col("doc_id").cast("string"))
        ).alias("draw"),
    )
    reps = (
        bucketed.groupBy("bucket")
        .agg(F.min(F.struct("draw", "doc_id")).alias("winner"))
        .select("bucket", F.col("winner.doc_id").alias("rep_id"))
    )
    fanout = bucketed.select(
        F.col("doc_id").alias("anchor_id"),
        F.col("bucket"),
        F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("neg_i"),
    ).select(
        "anchor_id",
        F.col("neg_i").cast("bigint").alias("neg_i"),
        ((F.col("bucket") + F.col("neg_i")) % _NEG_BUCKETS).cast("bigint").alias("nb"),
    )
    return (
        fanout.join(F.broadcast(reps), fanout.nb == reps.bucket)
        .select("anchor_id", "neg_i", F.col("rep_id").alias("negative_id"))
        .orderBy("anchor_id", "neg_i")
    )


# ---------------------------------------------------------------------------
# Hot-key skew diagnosis
# ---------------------------------------------------------------------------

_SKEW_TOPK = 10


@register(
    "join_skew_diagnosis",
    oracle=f"""
    WITH hist AS (
        SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total
        FROM hist
    )
    SELECT h.key, h.cnt,
           CAST(round(1000000.0 * h.cnt / t.total) AS BIGINT) AS share_micro,
           CAST((h.cnt * t.n_keys + t.total - 1) // t.total AS BIGINT)
               AS salt_factor
    FROM hist h CROSS JOIN tot t
    ORDER BY h.cnt DESC, h.key
    LIMIT {_SKEW_TOPK}
    """,
    doc="Hot-key skew diagnosis: the per-key histogram ranked by count "
        "with each hot key's share and a recommended salt factor "
        "ceil(cnt * n_keys / total) — how many ways to split the key so "
        "its partition shrinks to the average. This is the report that "
        "decides when operators/skew.py's salted join pays for its "
        "extra exchange, and it shares its input with "
        "join_size_estimate: the same partial-aggregatable histogram "
        "yields both the cardinality prediction (sum of products) and "
        "the skew verdict (max / share). The 100 TB shape: one "
        "map-side-combined aggregate, a 1-row totals frame broadcast "
        "back, and top-k via TakeOrderedAndProject — the raw table is "
        "scanned once and nothing bigger than the key histogram ever "
        "shuffles. The salt factor is exact integer ceiling division; "
        "the share is one IEEE division rounded to micro-units.",
)
def join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()  # feeds the totals frame AND the ranked output
    )
    tot = hist.agg(
        F.count("*").alias("n_keys"), F.sum("cnt").cast("bigint").alias("total")
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.round(F.lit(1_000_000.0) * F.col("cnt") / F.col("total"))
            .cast("bigint")
            .alias("share_micro"),
            F.expr("(cnt * n_keys + total - 1) div total")
            .cast("bigint")
            .alias("salt_factor"),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(_SKEW_TOPK)
    )


# ---------------------------------------------------------------------------
# Classification metrics
# ---------------------------------------------------------------------------

_CLS_SCORE_THRESHOLD = 821_500  # micro-units; ~median alpha-ratio
_CLS_LABEL_CHARS = 300  # label = long document


@register(
    "ml_classification_metrics",
    oracle=f"""
    WITH scored AS (
        SELECT ({_SCORE_SQL} >= {_CLS_SCORE_THRESHOLD}) AS pred,
               (n_chars >= {_CLS_LABEL_CHARS}) AS actual
        FROM documents
    ),
    cm AS (
        SELECT
            CAST(count(*) FILTER (WHERE pred AND actual) AS BIGINT) AS tp,
            CAST(count(*) FILTER (WHERE pred AND NOT actual) AS BIGINT) AS fp,
            CAST(count(*) FILTER (WHERE NOT pred AND actual) AS BIGINT) AS fn,
            CAST(count(*) FILTER (WHERE NOT pred AND NOT actual) AS BIGINT)
                AS tn
        FROM scored
    )
    SELECT tp, fp, fn, tn,
           CAST(round(1000000.0 * (tp + tn) / (tp + fp + fn + tn)) AS BIGINT)
               AS accuracy_micro,
           CAST(round(1000000.0 * tp / (tp + fp)) AS BIGINT)
               AS precision_micro,
           CAST(round(1000000.0 * tp / (tp + fn)) AS BIGINT) AS recall_micro,
           CAST(round(2000000.0 * tp / (2 * tp + fp + fn)) AS BIGINT)
               AS f1_micro
    FROM cm
    """,
    doc="Distributed classification metrics: confusion matrix plus "
        "accuracy / precision / recall / F1 for a thresholded score "
        "(the alpha-ratio quality score >= ~median) against a label "
        "(document length >= 300 chars) — the evaluation step every "
        "model-assisted curation loop (quality classifiers, lang-ID, "
        "toxicity filters) runs over held-out data before trusting a "
        "filter at scale. ONE map-side-combined aggregate produces all "
        "four cells; the metrics are computed on the 1-row frame, so "
        "nothing but four counters ever crosses the wire — at 100 TB "
        "this costs exactly one scan. Counts are exact bigints; each "
        "ratio is a single IEEE division rounded immediately to "
        "micro-units (F1 via the 2tp/(2tp+fp+fn) form — one division, "
        "no nested rounding).",
)
def ml_classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = table(spark, sf_dir, "documents").select(
        (_score_micro() >= _CLS_SCORE_THRESHOLD).alias("pred"),
        (F.col("n_chars") >= _CLS_LABEL_CHARS).alias("actual"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    cm = scored.agg(
        one(F.col("pred") & F.col("actual")).alias("tp"),
        one(F.col("pred") & ~F.col("actual")).alias("fp"),
        one(~F.col("pred") & F.col("actual")).alias("fn"),
        one(~F.col("pred") & ~F.col("actual")).alias("tn"),
    )
    micro = lambda num, den: F.round(num / den).cast("bigint")  # noqa: E731
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        micro(
            F.lit(1_000_000.0) * (F.col("tp") + F.col("tn")),
            F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"),
        ).alias("accuracy_micro"),
        micro(
            F.lit(1_000_000.0) * F.col("tp"), F.col("tp") + F.col("fp")
        ).alias("precision_micro"),
        micro(
            F.lit(1_000_000.0) * F.col("tp"), F.col("tp") + F.col("fn")
        ).alias("recall_micro"),
        micro(
            F.lit(2_000_000.0) * F.col("tp"),
            2 * F.col("tp") + F.col("fp") + F.col("fn"),
        ).alias("f1_micro"),
    )


# ---------------------------------------------------------------------------
# Rank AUC
# ---------------------------------------------------------------------------


@register(
    "ml_auc_rank",
    oracle=f"""
    WITH scored AS (
        SELECT {_SCORE_SQL} AS score,
               CASE WHEN n_chars >= {_CLS_LABEL_CHARS} THEN 1 ELSE 0 END
                   AS pos
        FROM documents
    ),
    grp AS (
        SELECT score, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS n_pos_g
        FROM scored GROUP BY score
    ),
    ranked AS (
        SELECT *,
               1 + coalesce(sum(cnt) OVER (
                   ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS first_rank
        FROM grp
    ),
    agg AS (
        SELECT CAST(sum(n_pos_g) AS BIGINT) AS n_pos,
               CAST(sum(cnt) - sum(n_pos_g) AS BIGINT) AS n_neg,
               CAST(sum(n_pos_g * (2 * first_rank + cnt - 1)) AS BIGINT)
                   AS sum_ranks2
        FROM ranked
    )
    SELECT n_pos, n_neg,
           CAST(round(1000000.0 * (sum_ranks2 - n_pos * (n_pos + 1))
                      / (2 * n_pos * n_neg)) AS BIGINT) AS auc_micro
    FROM agg
    """,
    doc="Rank AUC (the Mann-Whitney U form with exact tie correction): "
        "AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), where "
        "R_pos is the sum of positives' average ranks — computed from "
        "per-score groups (avg rank of a tied group = first_rank + "
        "(cnt-1)/2, tracked doubled so everything stays integral) — "
        "the ranking-quality companion to ml_classification_metrics' "
        "single-threshold view, and how filter scores are audited "
        "before picking any threshold at all. The 100 TB shape: one "
        "partial-aggregatable groupBy collapses the corpus to the "
        "DISTINCT-SCORE frame, the rank cumsum runs on that frame via "
        "operators/ranks.global_cumsum (range partitions + broadcast "
        "prefix offsets — NO single-partition window, so even a score "
        "domain that saturates its ~1e6-value resolution never lands "
        "on one task), and the final fold is a 1-row aggregate — the "
        "corpus is scanned once and no window ever sees raw rows. All "
        "rank sums are exact bigints; the single closing division is "
        "one IEEE op rounded to micro-units (overflow headroom to "
        "~2^53 micro-rank-sums; the documented escalation beyond that "
        "is DECIMAL(38) accumulation, same plan).",
)
def ml_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = table(spark, sf_dir, "documents").select(
        _score_micro().alias("score"),
        F.when(F.col("n_chars") >= _CLS_LABEL_CHARS, 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("pos").cast("bigint").alias("n_pos_g")
    )
    # inclusive distributed cumsum, then back off this group's own count:
    # first_rank = 1 + (rows with a strictly smaller score)
    ranked = global_cumsum(grp, ["score"], "cnt", out_col="_cum").withColumn(
        "first_rank", 1 + F.col("_cum") - F.col("cnt")
    )
    agg = ranked.agg(
        F.sum("n_pos_g").cast("bigint").alias("n_pos"),
        (F.sum("cnt") - F.sum("n_pos_g")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("n_pos_g") * (2 * F.col("first_rank") + F.col("cnt") - 1)
        )
        .cast("bigint")
        .alias("sum_ranks2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.lit(1_000_000.0)
            * (F.col("sum_ranks2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2 * F.col("n_pos") * F.col("n_neg"))
        )
        .cast("bigint")
        .alias("auc_micro"),
    )
