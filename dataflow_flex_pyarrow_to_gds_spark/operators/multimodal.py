"""Multimodal binary columns: typed media handling over Spark.

Media (image/audio/video) are opaque ``binary`` columns plus a typed
metadata struct; compute-heavy per-item work (decode, feature
extraction, frame sampling) runs as Arrow-batched ``mapInPandas``
operators. The Spark-side plumbing here — schemas, batch iteration,
partition sizing, UDF signatures — is real and tested. The default
``decode_fn`` is :func:`smart_decode`: PNG payloads get a REAL pure-
stdlib decoder (:mod:`.png`, r10 — zlib inflate + scanline unfilter, no
new dependency); other formats keep the deterministic fake (this
environment has no JPEG/audio/video libraries), and callers plug in a
real codec (PIL/ffmpeg/torchaudio) via the same signature in
production.

Scale notes (100 TB stance):
- media bytes stay in the executor plane end-to-end: parquet binary column
  → Arrow batch → pandas bytes → (decoded) features; nothing rides the
  driver;
- ``repartition`` before decode sizes tasks by item count, not byte count
  (one 4K video ≠ one thumbnail) — callers with wildly skewed media sizes
  should pre-bucket by ``media.nbytes``;
- outputs are fixed-width feature columns, so downstream joins/aggs leave
  the binary payload behind (column pruning drops it at the scan).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata carried next to every media payload.
MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("nbytes", T.LongType()),
        T.StructField("width", T.IntegerType()),  # null for audio
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),  # null for still images
        T.StructField("sha256", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, channels int, feature array<float>"
)

FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame_ms long, frame binary"


def attach_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Compute the metadata struct from raw payload bytes (JVM-side:
    length + sha2; mime/dims stay null until a real decoder fills them)."""
    p = F.col(payload_col)
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(None).cast("string").alias("mime"),
            F.length(p).cast("long").alias("nbytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.sha2(p, 256).alias("sha256"),
        ),
    )


def fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for an image decoder: derives an 8×8×3
    pseudo-image from the payload digest. Replace with a real codec in
    production — the operator contract (bytes → HWC uint8 array) is the
    same."""
    digest = hashlib.sha256(payload or b"").digest()
    rng = np.frombuffer(digest, dtype=np.uint8).astype(np.uint32)
    base = np.resize(rng, 8 * 8 * 3)
    return (base % 256).astype(np.uint8).reshape(8, 8, 3)


def smart_decode(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch: PNG, BMP, and baseline JPEG payloads get
    REAL pure-stdlib decoders (:mod:`.png` — zlib inflate + scanline
    unfilter; :mod:`.bmp` — header parse + row reshuffle, both r10
    de-stubs; :mod:`.jpeg` — Huffman + dequant + IDCT + chroma
    upsample, the r11 de-stub of the dominant real-corpus format);
    everything else keeps the deterministic fake, preserving the
    honest-stub contract for formats this environment has no codec for
    (progressive JPEG, audio, video)."""
    from .bmp import BMP_SIGNATURE, bmp_decode
    from .jpeg import JPEG_SIGNATURE, jpeg_decode
    from .png import PNG_SIGNATURE, png_decode

    if payload and payload[:8] == PNG_SIGNATURE:
        return png_decode(payload)
    if payload and payload[:2] == BMP_SIGNATURE:
        return bmp_decode(payload)
    if payload and payload[:3] == JPEG_SIGNATURE:
        return jpeg_decode(payload)
    return fake_decode(payload)


DecodeFn = Callable[[bytes], np.ndarray]


def image_features(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decode_fn: DecodeFn = smart_decode,
    partitions: int | None = None,
) -> DataFrame:
    """Decode each image and emit fixed-width features (mean channel
    intensities as a demo feature; swap the tail of ``_run`` for a model
    embedding). Arrow-batched mapInPandas — bytes never leave executors.
    """

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = decode_fn(bytes(payload) if payload is not None else b"")
                h, w, c = img.shape
                feat = img.reshape(-1, c).mean(axis=0) / 255.0
                out.append((mid, w, h, c, [float(x) for x in feat]))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "channels", "feature"]
            )

    src = df.select(F.col(id_col), F.col(payload_col))
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(_run, IMAGE_FEATURES_SCHEMA)


CHANNEL_SUMS_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "sum_c0 long, sum_c1 long, sum_c2 long"
)


def image_channel_sums(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decode_fn: DecodeFn = smart_decode,
    partitions: int | None = None,
) -> DataFrame:
    """Decode each image and emit EXACT per-channel pixel-value sums
    (int64) for up to the first three channels (missing channels NULL)
    — the hash-checkable twin of :func:`image_features`: float channel
    means can't be compared bit-for-bit across engines, but the sum of
    uint8 pixels is an integer any oracle can recompute in closed form
    when the image content is a known function of the row. Same
    Arrow-batched ``mapInPandas`` slot; payload bytes never leave the
    executor plane."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = decode_fn(bytes(payload) if payload is not None else b"")
                h, w, c = img.shape
                sums = img.astype(np.int64).sum(axis=(0, 1))
                s = [int(sums[i]) if i < c else None for i in range(3)]
                out.append((mid, w, h, c, s[0], s[1], s[2]))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "channels",
                    "sum_c0", "sum_c1", "sum_c2",
                ],
            )

    src = df.select(F.col(id_col), F.col(payload_col))
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(_run, CHANNEL_SUMS_SCHEMA)


AUDIO_STATS_SCHEMA = (
    "media_id long, sample_rate int, channels int, n_samples long, "
    "duration_ms long, sum_abs long, peak int"
)


def audio_stats(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    partitions: int | None = None,
) -> DataFrame:
    """REAL audio decode (r11 — the WAV/PCM de-stub, :mod:`.wav`):
    per payload, the exact integer statistics a curation pipeline
    filters on — sample rate, channel count, frame count, integer
    duration (``n·1000 div rate`` — div, not float), Σ|sample| and peak
    |sample| over all channels. PCM is lossless, so every number is
    exact int64 and a closed-form oracle can restate it; same
    Arrow-batched ``mapInPandas`` slot as the image family, bytes never
    leave the executor plane."""
    from .wav import wav_decode

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                s, rate = wav_decode(
                    bytes(payload) if payload is not None else b""
                )
                n, ch = s.shape
                a = np.abs(s.astype(np.int64))
                out.append(
                    (
                        mid,
                        rate,
                        ch,
                        n,
                        n * 1000 // rate,
                        int(a.sum()),
                        int(a.max()) if n else 0,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "sample_rate", "channels", "n_samples",
                    "duration_ms", "sum_abs", "peak",
                ],
            )

    src = df.select(F.col(id_col), F.col(payload_col))
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(_run, AUDIO_STATS_SCHEMA)


def _sample_times(
    n_frames: int, rate: int, scale: int, every_ms: int, max_frames: int
) -> list[tuple[int, int]]:
    """(frame_idx, frame_ms) pairs at the sampling cadence: for
    k = 0, 1, … the frame on screen at t = k·every_ms is
    ``t·rate div (scale·1000)``; stop past the last frame or at
    ``max_frames``. Pure integer arithmetic — the SQL oracle restates
    it verbatim."""
    out = []
    for k in range(max_frames):
        t_ms = k * every_ms
        idx = t_ms * rate // (scale * 1000)
        if idx >= n_frames:
            break
        out.append((idx, t_ms))
    return out


def sample_frames(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_ms: int = 1000,
    max_frames: int = 8,
    partitions: int | None = None,
) -> DataFrame:
    """Sample frames from video payloads (1→N flatMap shape).

    REAL for uncompressed-RGB AVI payloads (r11, :mod:`.avi` — RIFF
    magic dispatch): frames are decoded, sampled at ``every_ms`` using
    the stream's own rate/scale, and emitted as raw HWC RGB bytes.
    Anything else keeps the deterministic pseudo-frame stub (compressed
    video needs ffmpeg; the honest-stub contract) at a fixed
    ``every_ms`` cadence.

    Kept without a catalog caller: the Spark surface of the video
    decoders (``avi.py``); no catalog row reads video."""
    from .avi import AVI_SIGNATURE, avi_decode

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                if raw[:4] == AVI_SIGNATURE and raw[8:12] == b"AVI ":
                    frames, rate, scale = avi_decode(raw)
                    for idx, t_ms in _sample_times(
                        frames.shape[0], rate, scale, every_ms, max_frames
                    ):
                        rows.append((mid, idx, t_ms, frames[idx].tobytes()))
                else:
                    for i in range(max_frames):
                        frame = hashlib.sha256(
                            raw + i.to_bytes(4, "big")
                        ).digest()
                        rows.append((mid, i, i * every_ms, frame))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_ms", "frame"]
            )

    src = df.select(F.col(id_col), F.col(payload_col))
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(_run, FRAME_SAMPLE_SCHEMA)


VIDEO_FRAME_STATS_SCHEMA = (
    "media_id long, frame_idx int, frame_ms long, width int, height int, "
    "sum_c0 long, sum_c1 long, sum_c2 long"
)


def video_frame_stats(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_ms: int = 1000,
    max_frames: int = 8,
    partitions: int | None = None,
) -> DataFrame:
    """REAL video decode in hash-checkable form (r11): decode each
    uncompressed-RGB AVI, sample frames at ``every_ms`` (the
    :func:`_sample_times` integer cadence), and emit EXACT per-channel
    pixel sums per sampled frame — the video twin of
    :func:`image_channel_sums` (raw frame bytes can't be compared
    against a SQL oracle; integer sums of a doc_id-determined pixel
    formula can). 1→N flatMap in one Arrow-batched ``mapInPandas``;
    payloads and frames never leave the executor plane."""
    from .avi import avi_decode

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                frames, rate, scale = avi_decode(
                    bytes(payload) if payload is not None else b""
                )
                n, h, w, _ = frames.shape
                for idx, t_ms in _sample_times(
                    n, rate, scale, every_ms, max_frames
                ):
                    s = frames[idx].astype(np.int64).sum(axis=(0, 1))
                    rows.append(
                        (mid, idx, t_ms, w, h, int(s[0]), int(s[1]), int(s[2]))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_idx", "frame_ms", "width", "height",
                    "sum_c0", "sum_c1", "sum_c2",
                ],
            )

    src = df.select(F.col(id_col), F.col(payload_col))
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(_run, VIDEO_FRAME_STATS_SCHEMA)
