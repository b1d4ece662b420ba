"""Round-5 twenty-eighth batch: burst detection as integer Viterbi.

One operator:

- Two-state burst detection (Kleinberg-style) over the daily event
  series, decoded by an EXACT INTEGER Viterbi fold: emission costs
  (negative Poisson log-likelihood, factorial term cancelled) are
  quantized to milli-units ONCE per (state, count) from two per-type
  constants, the burst-entry penalty is a pinned constant, and the
  dynamic program runs as a left fold whose accumulator is a
  4-element bigint array [cost_base, cost_burst, path_base,
  path_burst] — the two backtracking paths packed as BITMASKS (one
  bit per day), so the full optimal state sequence comes out of one
  fold with no second pass. Ties pin to the lower/staying state.
  Every comparison the decoder makes is integer, so both engines
  replay the identical burst segmentation.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): the only float
work is quantizing the two log-rate constants per type (rounded once
to milli); the entire DP is exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

_BURST_RATE_X = 2  # burst state fires at 2x the base rate
_BURST_GAMMA_MILLI = 2000  # burst-entry penalty: 2 nats, pinned
_BURST_MAX_DAYS = 62  # bitmask backtracking capacity (shard beyond)


def _capacity_guard():
    """Loud runtime guard on the 62-day bitmask capacity.

    The path0/path1 backpointers shift left one bit per day, so a series
    longer than ``_BURST_MAX_DAYS`` days would silently wrap int64 (wrong
    burst mask) while the DuckDB oracle errors on overflow — a
    silent-vs-loud divergence.  Fail loudly on BOTH engines instead:
    beyond the capacity the series must be sharded (e.g. per-quarter
    sub-series, stitched on the boundary).  Returns a guarded replacement
    for the ``meta`` column (expects ``event_type`` alongside).
    """
    return F.when(
        F.size("meta") <= _BURST_MAX_DAYS, F.col("meta")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "events_burst_viterbi: series exceeds "
                    f"{_BURST_MAX_DAYS}-day bitmask capacity for "
                    "event_type="
                ),
                F.col("event_type"),
                F.lit(" — shard the series before decoding"),
            )
        )
    )


@register(
    "events_burst_viterbi",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    rates AS (
        SELECT event_type,
               CAST(round(1000.0 * sum(n) / count(*)) AS BIGINT)
                   AS lam0_milli,
               CAST(round(1000.0 * {_BURST_RATE_X} * sum(n) / count(*))
                    AS BIGINT) AS lam1_milli,
               CAST(round(1000.0 * ln(1.0 * sum(n) / count(*))) AS BIGINT)
                   AS lnlam0_milli,
               CAST(round(1000.0 * ln({_BURST_RATE_X}.0 * sum(n)
                                      / count(*))) AS BIGINT)
                   AS lnlam1_milli
        FROM daily GROUP BY event_type
    ),
    packed AS (
        SELECT d.event_type,
               r.lam0_milli, r.lam1_milli, r.lnlam0_milli, r.lnlam1_milli,
               list([d.n, CAST(0 AS BIGINT), 0, 0] ORDER BY d.day) AS l,
               list(struct_pack(day := d.day, n := d.n) ORDER BY d.day)
                   AS meta
        FROM daily d JOIN rates r ON r.event_type = d.event_type
        GROUP BY 1, 2, 3, 4, 5
    ),
    folded AS (
        SELECT event_type, meta,
               -- acc = [started, cost0, cost1, path0, path1]; the
               -- explicit started flag avoids any sentinel collision
               -- with legitimately negative running costs
               list_reduce(
                   list_prepend(
                       [CAST(0 AS BIGINT), 0, 0, 0, 0],
                       list_transform(l, s -> [s[1], CAST(0 AS BIGINT),
                                               0, 0, 0])),
                   (acc, e) -> CASE WHEN acc[1] = 0 THEN
                       -- first day: pay entry cost to start in burst
                       [CAST(1 AS BIGINT),
                        lam0_milli - e[1] * lnlam0_milli,
                        lam1_milli - e[1] * lnlam1_milli
                            + {_BURST_GAMMA_MILLI},
                        CAST(0 AS BIGINT), 1]
                   ELSE
                       [CAST(1 AS BIGINT),
                        lam0_milli - e[1] * lnlam0_milli
                            + least(acc[2], acc[3]),
                        lam1_milli - e[1] * lnlam1_milli
                            + least(acc[2] + {_BURST_GAMMA_MILLI}, acc[3]),
                        (CASE WHEN acc[2] <= acc[3]
                              THEN acc[4] ELSE acc[5] END) * 2,
                        (CASE WHEN acc[3] <= acc[2] + {_BURST_GAMMA_MILLI}
                              THEN acc[5] ELSE acc[4] END) * 2 + 1]
                   END) AS st
        FROM packed
    ),
    decoded AS (
        SELECT event_type, meta,
               CASE WHEN st[2] <= st[3] THEN st[4] ELSE st[5] END AS mask,
               len(meta) AS nd
        FROM folded
    )
    SELECT event_type,
           CAST(meta[t].day AS VARCHAR) AS day,
           meta[t].n AS n,
           ((mask >> (nd - t)) & 1) = 1 AS in_burst
    FROM (SELECT event_type, meta, mask, nd,
                 unnest(generate_series(1, nd)) AS t
          FROM decoded) u
    ORDER BY event_type, day
    """,
    doc="Two-state burst detection over the daily event series, "
        "decoded by an EXACT INTEGER Viterbi fold — the Kleinberg "
        "burst model's discrete core: base state at the observed "
        f"mean rate, burst state at {_BURST_RATE_X}x, emission cost "
        "= lambda - n*ln(lambda) (negative Poisson log-likelihood; "
        "the n! term is state-independent and cancels) quantized to "
        "milli ONCE per type into four integer constants, burst "
        f"entry taxed {_BURST_GAMMA_MILLI} milli-nats (pinned). The "
        "DP is a left fold whose accumulator is [cost0, cost1, "
        "path0, path1] — the two Viterbi backpointers carried as "
        "BITMASKS (one bit per day, MSB-first), so the optimal "
        "segmentation decodes from the fold result with NO second "
        "pass and no per-day backpointer table; ties pin to the "
        "staying/lower state. Every DP comparison is integer, so "
        "both engines replay the identical burst mask. Capacity: "
        f"{_BURST_MAX_DAYS} days per fold (bitmask width) — shard "
        "longer horizons by window and stitch, the standard "
        "segmented-Viterbi trick. The 100 TB shape: raw events "
        "partial-aggregate map-side onto the type x day frame; the "
        "fold is O(days) per type on that calendar-bounded frame; "
        "rate constants are one tiny aggregate joined back.",
)
def events_burst_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()  # feeds the rates AND the fold
    )
    rates = daily.groupBy("event_type").agg(
        F.round(F.lit(1000.0) * F.sum("n") / F.count("*"))
        .cast("bigint")
        .alias("lam0_milli"),
        F.round(F.lit(1000.0) * _BURST_RATE_X * F.sum("n") / F.count("*"))
        .cast("bigint")
        .alias("lam1_milli"),
        F.round(F.lit(1000.0) * F.log(F.lit(1.0) * F.sum("n") / F.count("*")))
        .cast("bigint")
        .alias("lnlam0_milli"),
        F.round(
            F.lit(1000.0)
            * F.log(F.lit(float(_BURST_RATE_X)) * F.sum("n") / F.count("*"))
        )
        .cast("bigint")
        .alias("lnlam1_milli"),
    )
    packed = (
        daily.join(rates, "event_type")
        .groupBy(
            "event_type",
            "lam0_milli",
            "lam1_milli",
            "lnlam0_milli",
            "lnlam1_milli",
        )
        .agg(F.array_sort(F.collect_list(F.struct("day", "n"))).alias("meta"))
        .withColumn("meta", _capacity_guard())
    )
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    steps = F.transform(
        F.col("meta"),
        lambda s: F.array(s["n"], zero, zero, zero, zero),
    )
    gamma = F.lit(_BURST_GAMMA_MILLI).cast("long")

    def emit(state_lam, state_lnlam, n):
        return F.col(state_lam) - n * F.col(state_lnlam)

    # acc = [started, cost0, cost1, path0, path1]; the explicit started
    # flag avoids any sentinel collision with negative running costs
    def merge(acc, e):
        n = F.element_at(e, 1)
        started = F.element_at(acc, 1)
        c0, c1 = F.element_at(acc, 2), F.element_at(acc, 3)
        p0, p1 = F.element_at(acc, 4), F.element_at(acc, 5)
        e0 = emit("lam0_milli", "lnlam0_milli", n)
        e1 = emit("lam1_milli", "lnlam1_milli", n)
        return F.when(
            started == 0,
            F.array(one, e0, e1 + gamma, zero, one),
        ).otherwise(
            F.array(
                one,
                e0 + F.least(c0, c1),
                e1 + F.least(c0 + gamma, c1),
                F.when(c0 <= c1, p0).otherwise(p1) * 2,
                F.when(c1 <= c0 + gamma, p1).otherwise(p0) * 2 + 1,
            )
        )

    init = F.array(zero, zero, zero, zero, zero)
    folded = packed.select(
        "event_type",
        "meta",
        F.aggregate(steps, init, merge).alias("st"),
    )
    decoded = folded.select(
        "event_type",
        "meta",
        F.when(
            F.element_at("st", 2) <= F.element_at("st", 3), F.element_at("st", 4)
        )
        .otherwise(F.element_at("st", 5))
        .alias("mask"),
        F.size("meta").alias("nd"),
        F.explode(F.sequence(F.lit(1), F.size("meta"))).alias("t"),
    )
    return decoded.select(
        "event_type",
        F.element_at("meta", F.col("t"))["day"].cast("string").alias("day"),
        F.element_at("meta", F.col("t"))["n"].alias("n"),
        F.expr(
            "(shiftright(mask, CAST(nd - t AS INT)) & 1) = 1"
        ).alias("in_burst"),
    ).orderBy("event_type", "day")
