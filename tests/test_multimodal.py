"""Multimodal blob surface: binaryFile scan, metadata fingerprints,
content dedup, and the decode-stage plumbing (deterministic fake decoder +
explicit stub for codec-dependent paths)."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from job_datapipeline_spark.sources import multimodal as MM

BLOB_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "blobs")


def test_blob_metadata_matches_hashlib(spark):
    df = MM.with_blob_metadata(MM.read_binary_dir(spark, BLOB_DIR))
    got = {r["meta"]["file_name"]: r["meta"].asDict() for r in df.collect()}
    assert len(got) == 5
    for name, meta in got.items():
        with open(os.path.join(BLOB_DIR, name), "rb") as f:
            content = f.read()
        assert meta["n_bytes"] == len(content)
        assert meta["content_md5"] == hashlib.md5(content).hexdigest()


def test_glob_filter_limits_listing(spark):
    only_img = MM.read_binary_dir(spark, BLOB_DIR, glob="*.img")
    assert only_img.count() == 4


def test_dedup_blobs_by_content(spark):
    dedup = MM.dedup_blobs(MM.read_binary_dir(spark, BLOB_DIR))
    rows = {r["path"].rsplit("/", 1)[-1]: r["copies"] for r in dedup.collect()}
    # img_001 and its copy collapse; min-path keeps img_001.img
    assert rows["img_001.img"] == 2
    assert "img_001_copy.img" not in rows
    assert sum(rows.values()) == 5 and len(rows) == 4


def test_decode_image_features_fake_decoder(spark):
    df = MM.read_binary_dir(spark, BLOB_DIR)
    feats = {r["path"].rsplit("/", 1)[-1]: r for r in MM.decode_image_features(df).collect()}
    assert feats["img_001.img"]["width"] == 16 and feats["img_001.img"]["height"] == 9
    assert feats["img_002.img"]["width"] == 8
    v = feats["img_001.img"]["features"]
    assert len(v) == 8 and abs(sum(v) - 1.0) < 1e-4
    # the audio blob is undecodable by the image decoder: null row, not dropped
    assert feats["clip_001.aud"]["width"] is None
    assert feats["clip_001.aud"]["features"] is None


def test_video_default_seam_nulls_undecodable_blobs(spark):
    """With no real codec in this container (no pyav, no ffmpeg), the
    default real_video_frame_decoder seam must keep every non-toy blob as
    one auditable null row — never drop it, never fail the task."""
    df = MM.read_binary_dir(spark, BLOB_DIR)
    n_blobs = df.count()
    rows = MM.sample_video_frames(df).collect()
    assert len(rows) == n_blobs
    assert all(r["frame_index"] is None and r["frame_features"] is None for r in rows)


def test_video_default_seam_decodes_toy_container(spark, tmp_path):
    """The default seam (no injected decoder) recognizes the toy container
    by its exact length signature and samples every n-th frame."""
    n_frames = 7
    body = bytes((i * 3 + j) % 256 for i in range(n_frames) for j in range(16))
    (tmp_path / "clip.vid").write_bytes(n_frames.to_bytes(4, "little") + body)
    df = MM.read_binary_dir(spark, str(tmp_path), glob="*.vid")
    rows = sorted(
        MM.sample_video_frames(df, every_n=3).collect(),
        key=lambda r: r["frame_index"],
    )
    assert [r["frame_index"] for r in rows] == [0, 3, 6]
    # golden replay of frame 3's features by plain python
    chunk = body[16 * 3 : 16 * 4]
    assert rows[1]["frame_features"] == [
        round(sum(chunk) / 16 / 255, 6),
        round(max(chunk) / 255, 6),
    ]


def test_toy_video_signature_rejects_real_container_headers():
    # an mp4 ftyp box can never satisfy the exact toy length signature
    mp4_header = b"\x00\x00\x00\x20ftypisom" + b"\x00" * 100
    assert not MM.is_toy_video(mp4_header)
    assert MM.toy_video_frame_decoder(mp4_header, 3) is None
    assert MM.real_video_frame_decoder(mp4_header, 3) is None  # no codec here
    assert not MM.video_codec_available()


def test_video_plumbing_with_injected_decoder(spark):
    df = MM.read_binary_dir(spark, BLOB_DIR, glob="img_001.img")

    def frame_decoder(content, every_n):
        return [(i, [float(i), float(len(content))]) for i in range(0, 90, every_n)]

    rows = MM.sample_video_frames(df, every_n=30, frame_decoder=frame_decoder).collect()
    assert [(r["frame_index"], r["frame_features"][1]) for r in rows] == [
        (0, 156.0), (30, 156.0), (60, 156.0)
    ]


# --- real codecs -----------------------------------------------------------

def _golden_hist(pixels):
    bins = [0] * 8
    for b, g, r in pixels:
        bins[int(0.299 * r + 0.587 * g + 0.114 * b) >> 5] += 1
    return [round(c / len(pixels), 6) for c in bins]


def test_bmp_decoder_golden_with_stride_padding():
    # width 3 -> row stride 12 (3 bytes padding): the decoder must honor it
    from job_datapipeline_spark.plans.formats import _bmp_bytes, _bmp_pixel

    content = _bmp_bytes(3, 2)
    out = MM.bmp_image_decoder(content)
    assert out is not None
    w, h, fmt, feats = out
    assert (w, h, fmt) == (3, 2, "bmp")
    pixels = [_bmp_pixel(x, y) for y in range(2) for x in range(3)]
    assert feats == _golden_hist(pixels)


def test_bmp_decoder_rejects_non_bmp():
    assert MM.bmp_image_decoder(b"") is None
    assert MM.bmp_image_decoder(b"PNG not a bmp" * 10) is None
    # truncated pixel array
    from job_datapipeline_spark.plans.formats import _bmp_bytes

    content = _bmp_bytes(8, 8)
    assert MM.bmp_image_decoder(content[: len(content) - 10]) is None


def test_bmp_decoder_32bpp_topdown():
    import struct

    # hand-built 2x2 top-down 32bpp BMP (BGRA), no stride padding needed
    px = [(10, 20, 30, 0), (200, 100, 50, 0), (0, 0, 0, 0), (255, 255, 255, 0)]
    data = b"".join(bytes(p) for p in px)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 32, 0, len(data), 0, 0, 0, 0)
    out = MM.bmp_image_decoder(header + info + data)
    assert out is not None
    w, h, fmt, feats = out
    assert (w, h, fmt) == (2, 2, "bmp")
    assert feats == _golden_hist([p[:3] for p in px])


def test_real_decoder_dispatch():
    from job_datapipeline_spark.plans.formats import _bmp_bytes

    assert MM.real_image_decoder(_bmp_bytes(4, 4))[2] == "bmp"
    fake = b"FAKEIMG\x00" + bytes([0, 4, 0, 2]) + bytes(range(8))
    assert MM.real_image_decoder(fake)[2] == "fakeimg"
    assert MM.real_image_decoder(b"\x00\x01garbage") is None


def test_pil_decoder_when_available():
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (5, 3), (255, 0, 0)).save(buf, format="PNG")
    out = MM.pil_image_decoder(buf.getvalue())
    assert out is not None and out[:2] == (5, 3) and out[2] == "png"


def test_wav_decoder_golden():
    from job_datapipeline_spark.plans.formats import _wav_bytes, _wav_golden

    content = _wav_bytes(1, 8000, 1600, 7)
    out = MM.wav_audio_decoder(content)
    assert out is not None
    nch, rate, n, fmt, rms, feats = out
    assert (nch, rate, n, fmt) == (1, 8000, 1600, "wav")
    g_rms, g_hist = _wav_golden(1, 1600, 7)
    assert rms == g_rms and feats == g_hist


def test_wav_decoder_stereo_and_rejects():
    from job_datapipeline_spark.plans.formats import _wav_bytes

    out = MM.wav_audio_decoder(_wav_bytes(2, 16000, 100, 11))
    assert out is not None and out[0] == 2 and out[2] == 100
    assert MM.wav_audio_decoder(b"") is None
    assert MM.wav_audio_decoder(b"RIFFgarbage") is None
    # BMP bytes are not audio
    from job_datapipeline_spark.plans.formats import _bmp_bytes

    assert MM.wav_audio_decoder(_bmp_bytes(4, 4)) is None
