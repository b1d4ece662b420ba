"""Sources, sinks and physical layout: CSV (clean and corrupt), HTML and
XML parsing, Python data sources and UDTFs, parquet schema evolution,
round trips through the parquet / CSV / ORC / JSON-lines / KV sinks,
Z-order tiles, bucketed joins, partition stats and dynamic partition
pruning, and the multimodal readers (images, audio, video).

Fixture files live under ``tests/fixtures`` (``common.FIXTURES_DIR``);
queries that write go to a per-query ``common.scratch_dir``.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

import glob as _glob
import hashlib as _hashlib
import os as _os
import os.path as _os_path
import struct as _struct

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import literal_dim, table
from ..operators import dedup as _D
from ..sources import html as _H
from ..sources import html_fixtures as _FX
from ..sources import multimodal as _MM
from ..sources.readers import read_scraped_csv as _read_scraped_csv
from .common import CSV_FIXTURE_GLOB, FIXTURES_DIR, scratch_dir
from .registry import register


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
    FROM read_csv('{CSV_FIXTURE_GLOB}', header=true, filename=true, all_varchar=true)
    """,
    doc="S5+S6 (cleaner.py:15-40,10-14): schema'd CSV glob scan — the glob "
        "replaces list-bucket+endswith filtering — with the search term "
        "recovered from each filename via input_file_name(). The oracle "
        "independently re-reads the same files and re-derives the column.",
)
def csv_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read_scraped_csv(spark, CSV_FIXTURE_GLOB)
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



_BLOB_DIR = _os_path.join(FIXTURES_DIR, "blobs")


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
    from ..sources.readers import read_newest_partition
    from ..sources.sinks import write_partitioned_parquet

    base = scratch_dir("sink_rt") + "/orders_daily"
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

    from ..sources.multimodal import (
        decode_image_features,
        read_binary_dir,
        real_image_decoder,
    )

    base = scratch_dir("bmp_fixtures")
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

    from ..sources.multimodal import decode_audio_features, read_binary_dir

    base = scratch_dir("wav_fixtures")
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
    from ..sources.sinks import write_csv

    orders = table(spark, sf_dir, "orders")
    path = scratch_dir("csv_rt") + "/orders_csv"
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


_CSV_CORRUPT_GLOB = _os_path.join(FIXTURES_DIR, "csv_corrupt", "*.csv")


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
    base = scratch_dir("schema_evo") + "/customers"
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

    base = scratch_dir("vid_fixtures")
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


_PYDS_N = 120


def _pyds_expected_rows():
    from ..sources.python_datasource import _row

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
        "(no worker package import needed), and it is applied with "
        "DataFrame.lateralJoin on the UDTF object, so a call registers "
        "no function and no temp view in the session. Policy "
        "note: UDTFs are row-at-a-time Python — like the uuid5 UDF this "
        "is a documented capability demo; the native form of this exact "
        "computation is posexplode over regexp_extract_all "
        "(text_first_occurrence).",
)
def python_udtf_regex_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="match_idx bigint, tok string")
    class _Spans:
        def eval(self, text):
            import re

            for i, m in enumerate(
                re.finditer(r"\bs\w+", (text or "").strip().lower()), start=1
            ):
                yield i, m.group(0)

    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    return docs.lateralJoin(_Spans(F.col("text").outer())).select("doc_id", "match_idx", "tok")


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

    from ..deploy import ensure_shipped
    from ..sources.python_datasource import JsonlDirDataSource

    ensure_shipped(spark)
    try:
        spark.dataSource.register(JsonlDirDataSource)
    except Exception:
        pass
    out = scratch_dir("jsonl_sink") + "/rollup"
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

    from ..sources.multimodal import read_binary_dir, resize_image_features

    base = scratch_dir("bmp_resize")
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

    store = scratch_dir("kv_store")

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


# ---------------------------------------------------------------------------
# ORC sink round trip
# ---------------------------------------------------------------------------
#
# ORC sink round trip: Spark's second first-class columnar format,
# written partitioned and read back with types intact (the S10/S12
# pattern of sources/sinks.py extended to ORC).

@register(
    "sink_roundtrip_orc",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(o_orderdate) AS VARCHAR) AS first_date
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="ORC sink + read-back round trip (S10/S12 pattern, third "
        "format): write orders partitioned by status as ORC — Spark's "
        "other first-class columnar format, zero extra dependencies — "
        "read it back, and aggregate; matching the oracle computed "
        "straight from the source parquet proves bigint/double/date/"
        "string fidelity AND that the partition column round-trips from "
        "directory names. Partitioned ORC gets the same 100 TB "
        "properties as the parquet sink: partition pruning on status, "
        "predicate pushdown, splittable stripes; the deliberate "
        "difference from sink_roundtrip_csv is typed columnar storage "
        "(CSV proves the schema-on-read path instead).",
)
def sink_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    path = scratch_dir("orc_rt") + "/orders_orc"
    orders.write.partitionBy("o_orderstatus").mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.min("o_orderdate").cast("string").alias("first_date"),
    )


# ---------------------------------------------------------------------------
# Z-order tiles
# ---------------------------------------------------------------------------
#
# Z-order (Morton) tile statistics: the space-filling-curve layout
# key behind Delta/Iceberg Z-ORDER data skipping — 8+8-bit
# interleave of customer bucket x month bucket built from pure
# integer bit ops, then per-tile min/max "skipping stats" that show
# what a zordered writer would hand the scan planner.

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


# bucketed-layout co-located join.
#
# One operator, closing the loop on a claim many docstrings lean on:
#
# - Bucketed-layout join — the "S10 bucketing layout" materialized and
#   PROVEN: orders and lineitem are written as bucketed tables (same
#   bucket count, same key), re-read through the catalog, and joined
#   with a merge hint; the operator then counts the shuffle exchanges
#   in the JOIN's own physical plan and emits that count as an output
#   column PINNED to zero — so the hash gate itself certifies that the
#   co-located join moved no rows, not just that the aggregate came
#   out right. This is the layout every fact-to-fact join docstring in
#   this repo references; at 100 TB it is the difference between a
#   join that shuffles two fact tables and one that streams
#   bucket-by-bucket.
#
# Float discipline (the queries module docstring): revenue is exact cents;
# the plan verdict is an integer count.

_BUCKETS = 8


@register(
    "layout_bucketed_join",
    oracle="""
    SELECT o.o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(0 AS BIGINT) AS join_shuffle_exchanges
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY status
    """,
    doc=f"Bucketed-layout co-located join — the S10 bucketing layout "
        f"materialized and PROVEN: orders and lineitem write as "
        f"{_BUCKETS}-bucket tables on the order key (bucketBy + "
        "sortBy through the catalog — hash-partitioned AND sorted ON "
        "DISK), re-read, and merge-joined; the operator counts the "
        "'Exchange hashpartitioning' nodes in the JOIN's own executed "
        "plan and emits the count as an output column pinned to ZERO, "
        "so the correctness gate certifies the physical property "
        "(no rows moved for the join), not just the aggregate values. "
        "Measured here: the identical unbucketed join plans 2 shuffle "
        "exchanges; the bucketed one plans 0 (and 0 sorts — sortBy "
        "pre-sorted the buckets). The 100 TB shape: this is THE "
        "fact-to-fact join strategy — pay one bucketed write, then "
        "every orderkey join streams bucket-by-bucket forever; "
        "bucket count picks the join parallelism and should track "
        "cluster cores x a small factor at target scale, not "
        f"{_BUCKETS} (fixture-sized here so the smoke fixture "
        "produces multi-row buckets).",
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("bucketed_layout")
    spark.sql("DROP TABLE IF EXISTS s10_bucketed_orders")
    spark.sql("DROP TABLE IF EXISTS s10_bucketed_lineitem")
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .write.bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", _os.path.join(base, "orders"))
        .mode("overwrite")
        .saveAsTable("s10_bucketed_orders")
    )
    (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        )
        .write.bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", _os.path.join(base, "lineitem"))
        .mode("overwrite")
        .saveAsTable("s10_bucketed_lineitem")
    )
    o = spark.table("s10_bucketed_orders")
    li = spark.table("s10_bucketed_lineitem")
    joined = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    # plan verdict: shuffle exchanges the JOIN itself plans (metadata
    # introspection on the driver — no data is collected)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    n_shuffles = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    return (
        joined.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .select(
            "status",
            "n_lines",
            "revenue_cents",
            F.lit(n_shuffles).cast("bigint").alias("join_shuffle_exchanges"),
        )
        .orderBy("status")
    )


# perceptual image near-dedup (dHash).
#
# One operator extending the multimodal family:
#
# - dHash near-duplicate detection over real BMP files: decode ->
#   nearest-neighbor resample to 9x8 luminance -> horizontal-gradient
#   difference hash (64 bits) -> all-pairs Hamming distance -> near-dup
#   verdicts. The fixture set PLANTS the truth: for each base image a
#   brightness-shifted copy (every channel +8 — dHash is built from
#   gradient SIGNS, so the shift preserves every bit) and one
#   structurally OPPOSITE image (reversed gradients — every horizontal
#   difference flips sign, Hamming 64), so the expected pair structure
#   is exactly known and BOTH verdicts fire. The golden oracle is an
#   independent pure-python replay of decode+resize+dhash from the
#   fixture pixel formulas — the multimodal family's
#   golden-VALUES device.
#
# Float discipline: hashes, Hamming distances and verdicts are exact
# integers end to end.

_DHASH_NEAR = 10  # Hamming fence for "near duplicate" (of 64 bits)

# fixture pixel formulas: base gradients, a +8 brightness shift of each
# (gradient signs preserved -> dHash-identical), and one reversed
# gradient (every horizontal difference flips sign)


def _px_base(x: int, y: int):
    return ((x * 7 + y * 13) % 256, (x * 3 + 1) % 256, (y * 5 + 2) % 256)


def _px_shift(x: int, y: int):
    b, g, r = _px_base(x, y)
    return (min(255, b + 8), min(255, g + 8), min(255, r + 8))


def _px_reversed(x: int, y: int):
    # the REVERSED gradient: every horizontal difference flips sign, so
    # the dHash is the bitwise complement of the base (Hamming 64)
    return (
        (255 - x * 7 - y * 13) % 256,
        (255 - x * 3) % 256,
        (255 - y * 5) % 256,
    )


_DHASH_FIXTURES = (
    ("img_a.bmp", 24, 16, _px_base),
    ("img_a_shift.bmp", 24, 16, _px_shift),
    ("img_b.bmp", 24, 16, _px_reversed),
)


def _bmp_bytes_for(pixel_fn, width: int, height: int) -> bytes:
    stride = (width * 3 + 3) // 4 * 4
    pixel_data = bytearray()
    for row in range(height - 1, -1, -1):  # bottom-up storage
        for x in range(width):
            pixel_data += bytes(pixel_fn(x, row))
        pixel_data += b"\x00" * (stride - width * 3)
    header = _struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
    info = _struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return bytes(header + info + pixel_data)


def _golden_dhash(pixel_fn, width: int, height: int) -> int:
    """Independent replay: luminance from the pixel formula (same uint8
    truncation as the codec), NN resample to 9x8, gradient-sign bits."""
    lum = [
        [
            int(
                0.299 * pixel_fn(x, y)[2]
                + 0.587 * pixel_fn(x, y)[1]
                + 0.114 * pixel_fn(x, y)[0]
            )
            for x in range(width)
        ]
        for y in range(height)
    ]
    h = 0
    for i in range(8):
        sy = (i * height) // 8
        for j in range(8):
            sx0 = (j * width) // 9
            sx1 = ((j + 1) * width) // 9
            h = (h << 1) | (1 if lum[sy][sx0] > lum[sy][sx1] else 0)
    if h >= 1 << 63:
        h -= 1 << 64
    return h


def _golden_pairs_sql() -> str:
    hashes = {
        name: _golden_dhash(fn, w, hgt) for name, w, hgt, fn in _DHASH_FIXTURES
    }
    rows = []
    names = sorted(hashes)
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            ham = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            rows.append(
                f"('{a}', '{b}', CAST({ham} AS BIGINT), "
                f"{'TRUE' if ham <= _DHASH_NEAR else 'FALSE'})"
            )
    return ", ".join(rows)


@register(
    "multimodal_image_dhash",
    oracle="SELECT * FROM (VALUES "
    + _golden_pairs_sql()
    + ") AS t(file_a, file_b, hamming, is_near) ORDER BY file_a, file_b",
    doc="Perceptual image near-dedup via dHash: real BMP decode -> "
        "deterministic 9x8 nearest-neighbor luminance resample -> "
        "64-bit horizontal-gradient difference hash (Arrow-batched "
        "mapInPandas through sources/multimodal.dhash_image_features) "
        f"-> all-pairs Hamming distance -> near fence at {_DHASH_NEAR} "
        "bits. The fixtures PLANT the truth: each base image has a "
        "+8-brightness copy (dHash is gradient SIGNS, so the shift "
        "preserves every bit — Hamming 0) and a reversed-gradient "
        "image (every horizontal difference flips sign — Hamming 64, "
        "the bitwise complement of the base); the golden oracle "
        "replays decode+resize+dhash in pure python from the pixel "
        "formulas, so agreement certifies the codec, the resampler "
        "and the bit packing, not just the verdicts. The 100 TB "
        "shape: the hash is a map-side Arrow stage over the binary "
        "scan (one pass, kilobytes of state per image); at corpus "
        "scale the all-pairs comparison is replaced by the dedup "
        "family's banding — k+1 bands guarantee a pair within "
        "Hamming k agrees EXACTLY on at least one band (pigeonhole), "
        f"so the {_DHASH_NEAR}-bit fence takes {_DHASH_NEAR + 1} "
        "bands of ~6 bits hash-joined on band equality; the SimHash "
        "banding operator in operators/dedup is exactly this device, "
        "and the fence/band trade composes the same way the text "
        "path's does.",
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.multimodal import dhash_image_features, read_binary_dir

    base = scratch_dir("dhash_fixtures")
    for name, w, hgt, fn in _DHASH_FIXTURES:
        with open(_os.path.join(base, name), "wb") as fh:
            fh.write(_bmp_bytes_for(fn, w, hgt))
    blobs = read_binary_dir(spark, base, "*.bmp")
    hashes = dhash_image_features(blobs).select(
        F.element_at(F.split("path", "/"), -1).alias("file"), "dhash"
    )
    a = hashes.select(F.col("file").alias("file_a"), F.col("dhash").alias("ha"))
    b = hashes.select(F.col("file").alias("file_b"), F.col("dhash").alias("hb"))
    return (
        a.join(b, a.file_a < b.file_b)
        .select(
            "file_a",
            "file_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("bigint")
            .alias("hamming"),
            (
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= _DHASH_NEAR
            ).alias("is_near"),
        )
        .orderBy("file_a", "file_b")
    )


# ---------------------------------------------------------------------------
# JSON-lines sink round trip
# ---------------------------------------------------------------------------
#
# JSON-lines sink round trip (S10/S12 pattern, fourth format):
# status-partitioned write with a NESTED struct column, schema-pinned
# read-back, aggregate — proving bigint/double/timestamp/struct
# fidelity through Spark's JSON writer/reader pair.


@register(
    "sink_roundtrip_jsonl",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(o_orderdate) AS VARCHAR) AS first_date,
           min(o_orderpriority) AS first_priority
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="JSON-lines sink + read-back round trip (S10/S12 pattern, "
        "fourth format after parquet/CSV/ORC): orders written "
        "status-partitioned as JSONL with a NESTED struct column "
        "(priority + exact cents), read back with the PINNED schema "
        "(schema-on-read is where JSON pipelines silently corrupt "
        "types — floats for bigints, strings for timestamps; pinning "
        "the read schema is the defense this query certifies), then "
        "aggregated from the nested fields. Matching the oracle "
        "computed straight from the source parquet proves bigint/"
        "double/timestamp/struct fidelity through the JSON writer/"
        "reader AND the partition-column recovery. The 100 TB shape: "
        "map-side write, partition-pruned read; JSONL is the "
        "interchange format for every crawler/labeling tool upstream "
        "of a training pipeline, which is why the typed round trip "
        "deserves a certificate.",
)
def sink_roundtrip_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _os.path.join(scratch_dir("jsonl_rt"), "orders_jsonl")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderdate",
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        ).alias("meta"),
    )
    orders.write.partitionBy("o_orderstatus").mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey long, o_orderdate timestamp, "
        "meta struct<priority:string,cents:bigint>, o_orderstatus string"
    ).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("meta.cents").cast("bigint").alias("sum_cents"),
        F.min("o_orderdate").cast("string").alias("first_date"),
        F.min("meta.priority").alias("first_priority"),
    )


# video scene-cut detection over sampled frames.
#
# Training-data video pipelines sample frames AT scene boundaries, not
# uniformly — a cut detector over the frame-feature stream is the step
# between raw frame sampling (multimodal_video_frames) and clip
# extraction.  This operator marks a cut wherever the mean-luminance
# delta between CONSECUTIVE SAMPLED frames exceeds a threshold, and
# reports per file the sampled-frame count, cut count, and resulting
# scene-segment count — the shot-boundary statistics dataset builders
# budget clips from.
#
# Same harness contract as the other video queries: fixtures are the
# deterministic toy container written to scratch, frames decode through
# the DEFAULT decoder seam (real codec when pyav/ffmpeg exists, toy
# parser otherwise), and the oracle is the container spec replayed in
# pure Python at registration time — golden VALUES, engine-independent.
#
# Float discipline: luminance means come pre-rounded (1e-6) from the
# codec; the cut comparison is integer micro-units after one round, so the
# verdicts replay exactly.

_CUT_THRESH_MICRO = 80_000  # mean-luminance jump >= 0.08 marks a cut


def _scene_golden_sql() -> str:
    rows = []
    for name, n_frames in _VID_FIXTURES:
        lums = [
            round(feats[0] * 1_000_000)
            for _, feats in _toy_frame_decoder(_vid_bytes(n_frames), _VID_EVERY_N)
        ]
        cuts = sum(
            1
            for a, b in zip(lums, lums[1:])
            if abs(b - a) >= _CUT_THRESH_MICRO
        )
        rows.append(f"('{name}', {len(lums)}, {cuts}, {cuts + 1})")
    return ", ".join(rows)


@register(
    "multimodal_video_scene_cuts",
    oracle="SELECT * FROM (VALUES "
    + _scene_golden_sql()
    + ") AS t(file, n_sampled, n_cuts, n_segments) ORDER BY file",
    doc="Shot-boundary (scene-cut) detection over sampled video frames: "
        "a cut wherever consecutive sampled frames' mean luminance jumps "
        ">= 0.08 (integer micro-units after the codec's 1e-6 rounding, "
        "so the comparison replays exactly); per file the sampled-frame, "
        "cut and scene-segment counts — the statistics clip extraction "
        "budgets from. Pipeline: binaryFile scan -> sample_video_frames "
        "through the DEFAULT decoder seam (real codec when available, "
        "deterministic toy container otherwise) -> a lag window "
        "PARTITIONED BY file (fully parallel; frames-per-file is "
        "codec-bounded) -> per-file aggregate. Golden oracle: the "
        "container spec replayed in pure Python at registration. The "
        "100 TB shape: per-blob Arrow decode batches, file-keyed "
        "windows, partial-agg rollup — nothing global anywhere.",
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.multimodal import read_binary_dir, sample_video_frames

    base = scratch_dir("vid_scene_fixtures")
    for name, n_frames in _VID_FIXTURES:
        with open(os.path.join(base, name), "wb") as fh:
            fh.write(_vid_bytes(n_frames))
    blobs = read_binary_dir(spark, base, "*.vid")
    frames = sample_video_frames(blobs, every_n=_VID_EVERY_N).select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "frame_index",
        F.round(F.element_at("frame_features", 1) * 1_000_000)
        .cast("bigint")
        .alias("lum_micro"),
    )
    w = Window.partitionBy("file").orderBy("frame_index")
    cuts = frames.withColumn(
        "is_cut",
        F.when(
            F.abs(F.col("lum_micro") - F.lag("lum_micro").over(w))
            >= _CUT_THRESH_MICRO,
            1,
        ).otherwise(0),
    )
    return (
        cuts.groupBy("file")
        .agg(
            F.count("*").cast("int").alias("n_sampled"),
            F.sum("is_cut").cast("int").alias("n_cuts"),
            (F.sum("is_cut") + 1).cast("int").alias("n_segments"),
        )
        .orderBy("file")
    )


# physical-layout operators — the levers that
# decide whether a 100 TB scan reads 100 TB or 1 TB.
#
# - Partition stats collection: per-partition min/max/ndv/rowcount (what
#   an Iceberg/Delta manifest stores) plus the pruning verdict a given
#   predicate would get from those stats — zone-map pruning as a query.
# - Range-partitioner boundaries: exact equi-depth split points via the
#   operators/ranks rank-pick primitives (the distributed device behind
#   Spark's own RangePartitioner sampling, made exact), with the
#   closed-form per-bucket row counts that prove the balance.
# - Dynamic partition pruning: a month-partitioned fact joined to a
#   filtered calendar dim; Catalyst inserts a DynamicPruningExpression in
#   the fact scan so only the dim-selected partitions are read at RUNTIME
#   (the star-schema pruning static PartitionFilters can't do) —
#   asserted by tests/test_scale_shapes.py against the executed plan.

# ---------------------------------------------------------------------------
# Partition stats + zone-map pruning verdict
# ---------------------------------------------------------------------------

_ZONE_LO, _ZONE_HI = 1_000, 5_000  # the probe predicate's l_orderkey band

@register(
    "layout_partition_stats",
    oracle=f"""
    SELECT strftime(date_trunc('month', CAST(l_shipdate AS DATE)), '%Y-%m')
               AS ship_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS ndv_suppkey,
           (max(l_orderkey) < {_ZONE_LO} OR min(l_orderkey) > {_ZONE_HI})
               AS prunable
    FROM lineitem
    GROUP BY 1 ORDER BY 1
    """,
    doc="Partition-stats collection — the per-partition min/max/ndv/"
        "rowcount frame an Iceberg/Delta manifest (or a zone map) "
        "stores, computed in ONE partial-aggregatable pass over the "
        "fact, plus the pruning verdict the predicate "
        f"l_orderkey BETWEEN {_ZONE_LO} AND {_ZONE_HI} would get from "
        "those stats alone (prunable = the band misses the partition's "
        "[min, max] entirely — the exact test a scan planner runs "
        "against every manifest entry before opening a file). The "
        "100 TB shape: stats collection is the cheap side of the "
        "trade — one aggregate at ingest buys every later query the "
        "right to skip files; ndv via exact count(distinct) here, "
        "approx_count_distinct at real manifest scale (the "
        "agg_approx_distinct escalation).",
)
def layout_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias(
                "ship_month"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
            F.countDistinct("l_suppkey").cast("bigint").alias("ndv_suppkey"),
        )
        .select(
            "ship_month",
            "n_rows",
            "min_orderkey",
            "max_orderkey",
            "ndv_suppkey",
            (
                (F.col("max_orderkey") < _ZONE_LO)
                | (F.col("min_orderkey") > _ZONE_HI)
            ).alias("prunable"),
        )
        .orderBy("ship_month")
    )

# ---------------------------------------------------------------------------
# Exact range-partitioner boundaries
# ---------------------------------------------------------------------------

_N_BUCKETS = 16

@register(
    "layout_range_boundaries",
    oracle=f"""
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    ranked AS (
        SELECT l_orderkey AS v,
               row_number() OVER (ORDER BY l_orderkey) AS rn
        FROM lineitem
    ),
    idx AS (SELECT unnest(generate_series(1, {_N_BUCKETS - 1})) AS i)
    SELECT CAST(idx.i AS INT) AS boundary_idx,
           CAST((idx.i * t.n) // {_N_BUCKETS} AS BIGINT) AS boundary_rank,
           CAST(r.v AS BIGINT) AS boundary_value,
           CAST((idx.i * t.n) // {_N_BUCKETS}
                - ((idx.i - 1) * t.n) // {_N_BUCKETS} AS BIGINT)
               AS bucket_rows
    FROM idx CROSS JOIN tot t
    JOIN ranked r ON r.rn = (idx.i * t.n) // {_N_BUCKETS}
    ORDER BY boundary_idx
    """,
    doc=f"Exact equi-depth range-partitioner boundaries — the "
        f"{_N_BUCKETS}-way split points of lineitem by l_orderkey, "
        "picked at exact global ranks floor(i*n/16) via operators/"
        "ranks.exact_rank_values: only the handful of range partitions "
        "whose offset span contains a requested rank enter a sort, so "
        "no global sort and no single-partition window exist anywhere "
        "in the plan (this is Spark's own RangePartitioner sampling "
        "step, made exact — reservoir sampling gives approximate "
        "boundaries; writers that must guarantee balanced output files "
        "need the exact form). Per-bucket row counts come CLOSED-FORM "
        "from the rank arithmetic (floor(i*n/B) - floor((i-1)*n/B)) — "
        "the balance proof costs nothing. Ranks use native shiftright "
        "(B is a power of two) — exact at any bigint scale and "
        "whole-stage-codegen fast, vs the decimal int_div's measured "
        "2.5-3x per-row cost. The 100 TB shape: two narrow passes over the "
        "key column; boundaries then drive a write.repartitionByRange.",
)
def layout_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import exact_rank_values

    li = table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("v"))
    # the rank expressions evaluate PER ROW over every candidate
    # partition, so they must stay native-bigint: _N_BUCKETS is a power
    # of two, and shiftright(n*i, log2(B)) == (n*i) div B exactly at any
    # bigint scale — measured 2.5-3x faster than the decimal-backed
    # int_div on the sf0.1 keep-predicate scan (the exact_ntile lesson)
    shift = _N_BUCKETS.bit_length() - 1
    assert 1 << shift == _N_BUCKETS
    ranks = [
        (lambda n, i=i: F.shiftright(n * i, shift))
        for i in range(1, _N_BUCKETS)
    ]
    picked = exact_rank_values(
        li, ["v"], ranks, rn_col="boundary_rank", total_col="n_total"
    )
    idx = literal_dim(
        spark,
        [(i,) for i in range(1, _N_BUCKETS)],
        "boundary_idx int",
    )
    return (
        picked.join(
            F.broadcast(idx),
            F.col("boundary_rank")
            == F.shiftright(
                F.col("n_total") * F.col("boundary_idx"), shift
            ),
        )
        .select(
            "boundary_idx",
            F.col("boundary_rank").cast("bigint"),
            F.col("v").cast("bigint").alias("boundary_value"),
            (
                F.shiftright(F.col("n_total") * F.col("boundary_idx"), shift)
                - F.shiftright(
                    F.col("n_total") * (F.col("boundary_idx") - 1), shift
                )
            )
            .cast("bigint")
            .alias("bucket_rows"),
        )
        .orderBy("boundary_idx")
    )

# ---------------------------------------------------------------------------
# Dynamic partition pruning
# ---------------------------------------------------------------------------

_QUARTERS = {
    "01": "Q1", "02": "Q1", "03": "Q1",
    "04": "Q2", "05": "Q2", "06": "Q2",
    "07": "Q3", "08": "Q3", "09": "Q3",
    "10": "Q4", "11": "Q4", "12": "Q4",
}

def _calendar_rows() -> list[tuple[str, str]]:
    return [
        (f"{y}-{m}", _QUARTERS[m])
        for y in range(1990, 2011)  # covers every SF's order-date span
        for m in ("01", "02", "03", "04", "05", "06",
                  "07", "08", "09", "10", "11", "12")
    ]

def dpp_fact_and_dim(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Write orders month-partitioned to scratch, read it back as the
    fact, and build the month->quarter calendar dim (also via parquet so
    the dim side is a real relation DPP can subquery).  Shared with the
    scale-shape test that pins the DynamicPruningExpression."""
    import os

    root = scratch_dir("dpp_prune")
    fact_path = os.path.join(root, "orders_by_month")
    dim_path = os.path.join(root, "calendar")
    o = table(spark, sf_dir, "orders").withColumn(
        "order_month",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM"),
    )
    # Cluster by the partition key before the partitioned write (guide §6):
    # each month lands in exactly one task, so the write produces one file
    # per month directory in parallel — without this the one-split orders
    # scan writes ~100 month files SEQUENTIALLY from a single task (and a
    # multi-task input would instead write tasks x months small files).
    o.repartition("order_month").write.mode("overwrite").partitionBy(
        "order_month"
    ).parquet(fact_path)
    literal_dim(
        spark, _calendar_rows(), "cal_month string, quarter string"
    ).coalesce(1).write.mode("overwrite").parquet(dim_path)
    return spark.read.parquet(fact_path), spark.read.parquet(dim_path)

@register(
    "layout_dpp_prune",
    oracle="""
    SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m')
               AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE month(CAST(o_orderdate AS DATE)) <= 3
    GROUP BY 1 ORDER BY 1
    """,
    doc="Dynamic partition pruning — the month-partitioned orders fact "
        "(written to scratch, so the gate certifies the round trip) "
        "joined to a calendar dim filtered to quarter = 'Q1': the "
        "filter lives on the DIM side, so static PartitionFilters "
        "can't prune the fact; Catalyst instead plants a "
        "DynamicPruningExpression in the fact's FileSourceScan and the "
        "selected months' directories are the only ones READ at "
        "runtime (asserted against the executed plan by tests/"
        "test_scale_shapes.py::test_dpp_fires_on_partitioned_fact). "
        "This is THE star-schema scan lever at 100 TB: a 7:1 calendar "
        "selectivity becomes a 7:1 I/O cut with no query rewrite. "
        "Exact cents; broadcast dim.",
)
def layout_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact, dim = dpp_fact_and_dim(spark, sf_dir)
    q1 = dim.where(F.col("quarter") == "Q1")
    return (
        fact.join(
            F.broadcast(q1), fact.order_month == q1.cal_month
        )
        .groupBy("order_month")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("order_month")
    )


# energy-threshold VAD — voice-activity segments
# over real WAV bytes.
#
# The multimodal family decodes audio (rms + amplitude histogram) and
# samples video frames; the speech-corpus operator between those is VAD:
# find the ACTIVE segments so the pipeline transcribes/clips speech and
# drops silence.  The energy-threshold form is the classic first pass:
# fixed-size sample windows, exact integer energy per window, threshold,
# then gaps-and-islands over the active windows.
#
# Spark shape: the ONLY Python stage is the per-window energy decode
# (``sources/multimodal.audio_energy_windows`` — Arrow-batched, exact
# int64 sums); thresholding and segment assembly run JVM-side with
# windows PARTITIONED BY FILE (bounded per file, never global).  At
# 100 TB the (path, win, energy) frame is the natural intermediate to
# persist — re-thresholding for a different aggressiveness costs one
# scan, not a re-decode.
#
# Golden oracle: the fixture WAVs alternate silence and tone blocks by
# construction, and an independent pure-python accumulation over the
# same sample formula produces the expected segment table as VALUES —
# the same device as ``multimodal_audio_decode``.

# (file, block_len_samples, n_frames, mult): sample k is silent unless
# (k // block) % 2 == 1, where it takes the _wav_samples tone value
_VAD_FIXTURES = (
    ("speech_a.wav", 800, 4800, 7),
    ("speech_b.wav", 640, 5120, 11),
    ("speech_c.wav", 1200, 6000, 13),
)
_VAD_WINDOW = 160
_VAD_RATE = 16_000
_VAD_THRESHOLD = 1_000_000


def _vad_samples(block: int, n: int, mult: int) -> list[int]:
    tone = _wav_samples(n, mult)
    return [tone[k] if (k // block) % 2 == 1 else 0 for k in range(n)]


def _vad_wav_bytes(block: int, n: int, mult: int) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_VAD_RATE)
        w.writeframes(
            b"".join(struct.pack("<h", s) for s in _vad_samples(block, n, mult))
        )
    return buf.getvalue()


def _vad_golden_rows() -> list[tuple]:
    rows = []
    for name, block, n, mult in _VAD_FIXTURES:
        samples = _vad_samples(block, n, mult)
        actives = []
        for i in range(0, n, _VAD_WINDOW):
            e = sum(s * s for s in samples[i : i + _VAD_WINDOW])
            if e > _VAD_THRESHOLD:
                actives.append((i // _VAD_WINDOW, e))
        seg_idx, j = 0, 0
        while j < len(actives):
            k = j
            while k + 1 < len(actives) and actives[k + 1][0] == actives[k][0] + 1:
                k += 1
            seg_idx += 1
            rows.append(
                (
                    name,
                    seg_idx,
                    actives[j][0],
                    actives[k][0],
                    k - j + 1,
                    sum(e for _, e in actives[j : k + 1]),
                )
            )
            j = k + 1
    return rows


def _vad_golden_values_sql() -> str:
    return ", ".join(
        f"('{name}', CAST({si} AS BIGINT), CAST({s} AS BIGINT), "
        f"CAST({e} AS BIGINT), CAST({nw} AS BIGINT), CAST({es} AS BIGINT))"
        for name, si, s, e, nw, es in _vad_golden_rows()
    )


@register(
    "multimodal_audio_vad",
    oracle="SELECT * FROM (VALUES "
    + _vad_golden_values_sql()
    + ") AS t(file, seg_idx, start_win, end_win, n_windows, energy_sum)",
    doc=f"Energy-threshold voice-activity detection over real 16-bit PCM "
        f"WAV bytes: {_VAD_WINDOW}-sample windows, exact int64 energy "
        "per window (the Arrow-batched sources/multimodal."
        "audio_energy_windows decode — the only Python stage), "
        f"threshold {_VAD_THRESHOLD}, then JVM-side gaps-and-islands "
        "PARTITIONED BY FILE into active segments (index, window "
        "bounds, window count, exact energy sum). Golden oracle: an "
        "independent pure-python accumulation over the fixture sample "
        "formula (silence/tone blocks by construction), the "
        "multimodal_audio_decode device. The 100 TB shape: decode once "
        "to the (path, win, energy) frame and persist it — "
        "re-thresholding costs a scan, not a re-decode; every window "
        "function is file-partitioned, bounded by the longest file.",
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.multimodal import audio_energy_windows, read_binary_dir

    base = scratch_dir("vad_fixtures")
    for name, block, n, mult in _VAD_FIXTURES:
        with open(os.path.join(base, name), "wb") as fh:
            fh.write(_vad_wav_bytes(block, n, mult))
    energies = audio_energy_windows(
        read_binary_dir(spark, base, "*.wav"), window=_VAD_WINDOW
    )
    active = energies.where(F.col("energy") > _VAD_THRESHOLD)
    w = Window.partitionBy("path").orderBy("win")
    grouped = (
        active.withColumn("_grp", F.col("win") - F.row_number().over(w))
        .groupBy("path", "_grp")
        .agg(
            F.min("win").alias("start_win"),
            F.max("win").alias("end_win"),
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum("energy").cast("bigint").alias("energy_sum"),
        )
    )
    ws = Window.partitionBy("path").orderBy("start_win")
    return grouped.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        F.row_number().over(ws).cast("bigint").alias("seg_idx"),
        "start_win",
        "end_win",
        "n_windows",
        "energy_sum",
    ).orderBy("file", "seg_idx")
