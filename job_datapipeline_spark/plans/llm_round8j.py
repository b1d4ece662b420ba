"""Round-8 tenth batch: energy-threshold VAD — voice-activity segments
over real WAV bytes.

The multimodal family decodes audio (rms + amplitude histogram) and
samples video frames; the speech-corpus operator between those is VAD:
find the ACTIVE segments so the pipeline transcribes/clips speech and
drops silence.  The energy-threshold form is the classic first pass:
fixed-size sample windows, exact integer energy per window, threshold,
then gaps-and-islands over the active windows.

Spark shape: the ONLY Python stage is the per-window energy decode
(``sources/multimodal.audio_energy_windows`` — Arrow-batched, exact
int64 sums); thresholding and segment assembly run JVM-side with
windows PARTITIONED BY FILE (bounded per file, never global).  At
100 TB the (path, win, energy) frame is the natural intermediate to
persist — re-thresholding for a different aggressiveness costs one
scan, not a re-decode.

Golden oracle: the fixture WAVs alternate silence and tone blocks by
construction, and an independent pure-python accumulation over the
same sample formula produces the expected segment table as VALUES —
the same device as ``multimodal_audio_decode``.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Exact integers: window energies, bounds, counts, sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _scratch_dir, _wav_samples
from .registry import register

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

    base = _scratch_dir("vad_fixtures")
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
