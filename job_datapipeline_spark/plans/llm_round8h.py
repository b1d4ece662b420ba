"""Round-8 eighth batch: the LSH (bands x rows) tuning curve.

Banded MinHash LSH has exactly one knob that matters: how the H hashes
split into b bands of r rows.  The S-curve says a pair with Jaccard s
becomes a candidate with probability 1 - (1 - s^r)^b — more bands =
higher recall and worse precision, longer bands the reverse — but the
folklore configs are guesses until MEASURED on the corpus at hand.
This query measures them: one signature matrix, every (b, r) split of
the same H hashes re-banded against it, each config scored for
candidate volume, precision and recall against the EXACT Jaccard >= 0.8
truth pairs.  It is the "measure, don't guess" artifact for the dedup
family, the same role the threshold curve plays for the cutoff and the
minhash-estimate-accuracy report plays for signature width.

Scale shape: the signature matrix (H rows per doc) computes ONCE and
checkpoints; each config's re-banding is a per-doc aggregate + band
self-join over that frame — candidates, never all pairs; the truth
pair frame is the PPJoin output, also once.  Adding a config to the
sweep costs one more banding pass, never another signature build.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Exact integers: counts and per-mille ratios only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as _D
from .queries import (
    _NDD_HASHES,
    _SQL_CORPUS,
    _planted_dedup_artifact,
    _sql_shingles,
)
from .registry import register

# every exact split of the _NDD_HASHES hashes: (bands, rows_per_band)
_LSH_CONFIGS = tuple(
    (_NDD_HASHES // r, r)
    for r in (1, 2, 4, 8)
    if _NDD_HASHES % r == 0
)
_LSH_TRUTH_T = 0.8


def _lsh_curve_oracle() -> str:
    # signature CTE (replays operators/dedup.minhash_signatures) + exact
    # truth pairs + one banded/cand/stat block per config
    from .queries import _MINHASH_P

    parts = [f"""
    WITH {_SQL_CORPUS}, {_sql_shingles('corpus')},
    seeds AS (SELECT unnest(range(0, {_NDD_HASHES})) AS s),
    hs AS (
        SELECT doc_id,
               ('0x' || substring(md5(shingle), 1, 15))::BIGINT
                   % {_MINHASH_P} AS h
        FROM sh
    ),
    sig AS (
        SELECT doc_id, CAST(s AS INT) AS seed,
               min((h * (2 * s + 1) + s * 7919) % {_MINHASH_P}) AS minhash
        FROM hs CROSS JOIN seeds GROUP BY doc_id, s
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6)
              >= {_LSH_TRUTH_T}
    )"""]
    stats = []
    for b, r in _LSH_CONFIGS:
        parts.append(f"""
    , banded_{b}_{r} AS (
        SELECT doc_id, CAST(seed // {r} AS INT) AS band,
               string_agg(CAST(seed AS VARCHAR) || '='
                          || CAST(minhash AS VARCHAR), '|'
                          ORDER BY CAST(seed AS VARCHAR) || '='
                                   || CAST(minhash AS VARCHAR)) AS band_sig
        FROM sig GROUP BY doc_id, seed // {r}
    ),
    cand_{b}_{r} AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded_{b}_{r} a
        JOIN banded_{b}_{r} b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    )""")
        stats.append(f"""SELECT CAST({b} AS BIGINT) AS bands,
           CAST({r} AS BIGINT) AS rows_per_band,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{b}_{r}) AS n_cand,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{b}_{r} c
             JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) AS tp""")
    parts.append(f"""
    SELECT bands, rows_per_band, n_cand, n_true, tp,
           CASE WHEN n_cand = 0 THEN NULL
                ELSE (tp * 1000) // n_cand END AS precision_permille,
           CASE WHEN n_true = 0 THEN NULL
                ELSE (tp * 1000) // n_true END AS recall_permille
    FROM ({" UNION ALL ".join(stats)})
    ORDER BY rows_per_band""")
    return "\n".join(parts)


@register(
    "dedup_lsh_tuning_curve",
    oracle=_lsh_curve_oracle(),
    doc=f"LSH (bands x rows) tuning curve: ONE {_NDD_HASHES}-hash "
        "MinHash signature matrix (checkpointed), re-banded under every "
        f"exact split {_LSH_CONFIGS}, each config scored for candidate "
        "volume, exact-integer per-mille precision and recall against "
        f"the exact Jaccard >= {_LSH_TRUTH_T} truth pairs (the PPJoin "
        "output, computed once) — the measured S-curve that replaces "
        "the folklore (b, r) guess, companion to the threshold curve "
        "(cutoff) and the minhash-estimate-accuracy report (signature "
        "width). More bands = recall up / precision down; the config a "
        "100 TB run wants is the cheapest one whose recall clears the "
        "mandate, and this table is how it gets picked. Scale shape: "
        "signatures once, truth once, each config one per-doc banding "
        "aggregate + one band-keyed self-join over candidates — never "
        "all pairs, never a second signature build.",
)
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session-scoped shared artifacts (r9 verdict item 7): the signature
    # frame and the loose-floor exact pair frame are the SAME checkpointed
    # frames corpus_dedup_threshold_curve / dedup_minhash_estimate_accuracy
    # use — one signature build and one PPJoin serve the whole QA trio.
    # PPJoin prunes are lossless, so filtering the 0.5-floor pairs to the
    # truth threshold IS jaccard_pairs(corpus, _LSH_TRUTH_T).
    sigs = _planted_dedup_artifact(
        spark, sf_dir, "sigs"
    )  # one signature build serves every config
    truth = (
        _planted_dedup_artifact(spark, sf_dir, "pairs_floor")
        .filter(F.col("jaccard") >= _LSH_TRUTH_T)
        .select("id_a", "id_b")
        .localCheckpoint()  # tiny; feeds n_true + every config join
    )
    n_true = truth.groupBy().agg(F.count("*").cast("bigint").alias("n_true"))
    out = None
    from .queries import _NDD_BANDS, _NDD_RPB

    for b, r in _LSH_CONFIGS:
        if (b, r) == (_NDD_BANDS, _NDD_RPB):
            # the production config's candidates are the shared artifact
            # frame dedup_minhash_estimate_accuracy also reranks
            cand = _planted_dedup_artifact(spark, sf_dir, "cand_prod")
        else:
            cand = _D.lsh_candidate_pairs(sigs, bands=b, rows_per_band=r)
        counted = cand.join(
            truth.withColumn("_t", F.lit(1)), ["id_a", "id_b"], "left"
        ).agg(
            F.count("*").cast("bigint").alias("n_cand"),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("bigint").alias("tp"),
        )
        row = (
            counted.crossJoin(F.broadcast(n_true))
            .select(
                F.lit(b).cast("bigint").alias("bands"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                "n_cand",
                "n_true",
                "tp",
                F.when(F.col("n_cand") == 0, F.lit(None).cast("bigint"))
                .otherwise(F.expr("(tp * 1000) div n_cand"))
                .alias("precision_permille"),
                F.when(F.col("n_true") == 0, F.lit(None).cast("bigint"))
                .otherwise(F.expr("(tp * 1000) div n_true"))
                .alias("recall_permille"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rows_per_band")
