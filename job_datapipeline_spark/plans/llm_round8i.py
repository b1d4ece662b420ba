"""Round-8 ninth batch: 2-D grid containment join — points in
rectangular geofences.

``operators/rangejoin`` handled the 1-D axis (point-in-interval,
interval-overlap); this lifts it to the plane: each point maps to one
``(floor(x/cell), floor(y/cell))`` grid cell, each axis-aligned
rectangle explodes to the cells it covers, and the equi-join on the
cell pair meets a matching pair in exactly one cell (the point's) —
the geohash/S2-cell device behind every spatial containment join at
scale, with the same no-post-join-dedup property as the 1-D binned
forms.

Fixture: the deterministic synthetic coordinates the geo family
already uses (``llm_round5n._synth_lat_lon`` — key-salted micro-degree
ints), with every 2nd supplier owning a rectangular service area whose
half-sides derive from its key.  The oracle is the naive bounds join —
the grid rewrite must reproduce it exactly.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Exact integers: micro-degree coordinates, counts, key sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.rangejoin import grid_containment_join
from .llm_round5n import _synth_lat_lon
from .registry import register

_GEO_CELL = 5_000_000  # 5 degrees in micro-degrees


def _rect_bounds_sql(key: str) -> str:
    """Supplier service rectangles in SQL: center = salted synth coords,
    half-sides 4-20 degrees (lon) / 2.5-17.5 degrees (lat) from the key."""
    lat = f"(CAST(({key} * 6151) % 16000 AS BIGINT) * 10000 - 80000000)"
    lon = f"(CAST(({key} * 104729) % 36000 AS BIGINT) * 10000 - 180000000)"
    hw = f"(({key} % 5 + 1) * 4000000)"
    hh = f"(({key} % 7 + 1) * 2500000)"
    return (
        f"{lat} - {hh} AS lat_lo, {lat} + {hh} AS lat_hi, "
        f"{lon} - {hw} AS lon_lo, {lon} + {hw} AS lon_hi"
    )


@register(
    "geo_point_in_rect_join",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey,
               CAST((c_custkey * 7919) % 16000 AS BIGINT) * 10000
                   - 80000000 AS lat,
               CAST((c_custkey * 104729) % 36000 AS BIGINT) * 10000
                   - 180000000 AS lon
        FROM customer
    ),
    supp AS (
        SELECT s_suppkey, {_rect_bounds_sql('s_suppkey')}
        FROM supplier WHERE s_suppkey % 2 = 0
    )
    SELECT s.s_suppkey AS supp_key,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(c.c_custkey) AS BIGINT) AS custkey_sum
    FROM supp s JOIN cust c
      ON c.lat BETWEEN s.lat_lo AND s.lat_hi
     AND c.lon BETWEEN s.lon_lo AND s.lon_hi
    GROUP BY 1 ORDER BY 1
    """,
    doc="2-D grid containment join (operators/rangejoin."
        "grid_containment_join): every 2nd supplier owns a rectangular "
        "service area (key-salted center, 4-20 degree half-widths); each "
        "customer point maps to ONE 5-degree grid cell, each "
        "rectangle explodes to its covered cell cross-product, and the "
        "(cellx, celly) equi-join meets each matching pair in exactly "
        "one cell — the geohash/S2 pattern, no post-join dedup. The "
        "oracle is the naive bounds join the grid form must reproduce "
        "exactly. Output: per-supplier contained-point count + custkey "
        "checksum. The 100 TB shape: the nested-loop a naive spatial "
        "join would plan becomes an ordinary shuffled equi-join on "
        "cell ids that partitions/AQE-balances like any other; cost = "
        "|points| + sum((w/cell+1)*(h/cell+1)) join rows with the cell "
        "size the measured 1-D trade (SCALE_GROWTH.md) squared.",
)
def geo_point_in_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    lat, lon = _synth_lat_lon("c_custkey", 7919, 104729)
    pts = cust.select(
        "c_custkey", lat.alias("lat"), lon.alias("lon")
    )
    supp = table(spark, sf_dir, "supplier").where(F.col("s_suppkey") % 2 == 0)
    slat, slon = _synth_lat_lon("s_suppkey", 6151, 104729)
    hw = (F.col("s_suppkey") % 5 + 1).cast("bigint") * 4_000_000
    hh = (F.col("s_suppkey") % 7 + 1).cast("bigint") * 2_500_000
    rects = supp.select(
        "s_suppkey",
        (slat - hh).alias("lat_lo"),
        (slat + hh).alias("lat_hi"),
        (slon - hw).alias("lon_lo"),
        (slon + hw).alias("lon_hi"),
    )
    joined = grid_containment_join(
        pts,
        rects,
        x_col="lat",
        y_col="lon",
        x_lo="lat_lo",
        x_hi="lat_hi",
        y_lo="lon_lo",
        y_hi="lon_hi",
        cell=_GEO_CELL,
    )
    return (
        joined.groupBy(F.col("s_suppkey").alias("supp_key"))
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.sum("c_custkey").cast("bigint").alias("custkey_sum"),
        )
        .orderBy("supp_key")
    )
