"""Round-7 sixth batch: video scene-cut detection over sampled frames.

Training-data video pipelines sample frames AT scene boundaries, not
uniformly — a cut detector over the frame-feature stream is the step
between raw frame sampling (multimodal_video_frames) and clip
extraction.  This operator marks a cut wherever the mean-luminance
delta between CONSECUTIVE SAMPLED frames exceeds a threshold, and
reports per file the sampled-frame count, cut count, and resulting
scene-segment count — the shot-boundary statistics dataset builders
budget clips from.

Same harness contract as the other video queries: fixtures are the
deterministic toy container written to scratch, frames decode through
the DEFAULT decoder seam (real codec when pyav/ffmpeg exists, toy
parser otherwise), and the oracle is the container spec replayed in
pure Python at registration time — golden VALUES, engine-independent.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline: luminance means come pre-rounded (1e-6)
from the codec; the cut comparison is integer micro-units after one
round, so the verdicts replay exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import (
    _VID_EVERY_N,
    _VID_FIXTURES,
    _scratch_dir,
    _toy_frame_decoder,
    _vid_bytes,
)
from .registry import register

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

    base = _scratch_dir("vid_scene_fixtures")
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
