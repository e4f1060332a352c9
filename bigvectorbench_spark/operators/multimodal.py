"""Multimodal (image/audio/video) column operators — BASELINE.json extension
surface ("treat image/audio/video as opaque binary columns with typed
metadata").

The reference's multimodal workloads (mm-ann, SURVEY §2.2 Q8; README.md
197-217) ship *pre-embedded* vectors; the pipeline that produces them
(decode → feature-extract) is what a training-data platform needs at 100 TB.
This module provides that pipeline shape, Spark-first:

- canonical schema: ``(media_id BIGINT, kind STRING, content BINARY,
  meta STRUCT<mime STRING, width INT, height INT, sample_rate INT,
  n_frames INT, duration_s FLOAT>)`` — content stays opaque bytes; metadata
  is queryable/prunable without touching payloads.
- every payload-touching operator is an Arrow-batched ``mapInPandas`` so
  bytes move once per batch, not once per row;
- **real decode**: the feature operators decode WAV and uncompressed AVI
  payloads with the pure-Python codecs below (no external library) and
  raise on a payload those codecs cannot read, so a codec regression
  fails loudly instead of producing made-up features;
- the metadata planners (``resize_meta``, ``sample_frames``) never touch
  payloads.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, content binary, "
    "meta struct<mime:string, width:int, height:int, sample_rate:int, "
    "n_frames:int, duration_s:float>"
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


# ------------------------------------------------------------- PNG codec
# Minimal, from-the-spec PNG encoder (RFC 2083): 8-bit grayscale,
# filter 0 — the image payloads of ``synthetic_media``.

def png_encode(gray: np.ndarray) -> bytes:
    """Encode an (H, W) uint8 grayscale array as a valid PNG (filter 0)."""
    if gray.dtype != np.uint8 or gray.ndim != 2:
        raise ValueError("png_encode expects an (H, W) uint8 array")
    h, w = gray.shape

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(h))
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


# ------------------------------------------------------------- WAV codec
# Minimal, from-the-spec RIFF/WAVE support (the WAVE format of the
# Multimedia Programming Interface spec; same stdlib-only pattern as the
# PNG codec above): integer PCM, 8/16-bit, mono or stereo, proper chunk
# walking (LIST/fact/cue chunks skipped, odd-size chunks word-aligned).

WAV_MAGIC = b"RIFF"


def wav_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode int16 mono PCM samples as a canonical 44-byte-header WAV."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError("wav_encode expects a 1-D int16 array")
    data = samples.tobytes()  # little-endian on every supported platform
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return WAV_MAGIC + struct.pack("<I", len(body)) + body


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a WAV payload → (float32 samples in [-1, 1], sample_rate).

    Integer PCM only (format tag 1): 16-bit scales by 1/32768 (exact in
    float32 — every int16/32768 is a ≤15-bit dyadic rational), 8-bit is
    unsigned-biased per the spec.  Stereo averages to mono.  Raises
    ValueError on compressed/float formats — callers treat that as 'not
    decodable here'."""
    if data[:4] != WAV_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            pcm = body
            if fmt is not None:
                break  # spec orders fmt before data
    if fmt is None or pcm is None:
        raise ValueError("truncated WAV (missing fmt or data chunk)")
    audio_format, n_channels, sample_rate, _rate, _align, bits = fmt
    if audio_format != 1 or n_channels not in (1, 2):
        raise ValueError(f"unsupported WAV (format={audio_format}, "
                         f"channels={n_channels})")
    if bits == 16:
        s = np.frombuffer(pcm[:len(pcm) // 2 * 2], dtype="<i2")
        out = s.astype(np.float32) / 32768.0
    elif bits == 8:
        s = np.frombuffer(pcm, dtype=np.uint8)
        out = (s.astype(np.float32) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV bit depth {bits}")
    if n_channels == 2:
        out = out[:len(out) // 2 * 2].reshape(-1, 2).mean(axis=1)
    return out, sample_rate


def _decode_audio_payload(content: bytes) -> Optional[tuple[np.ndarray, int]]:
    """Real audio decode → (float32 samples, sample_rate), or None when the
    pure-Python WAV codec cannot read the payload."""
    if content[:4] == WAV_MAGIC:
        try:
            return wav_decode(content)
        except ValueError:
            return None
    return None


# ------------------------------------------------------------- AVI codec
# Minimal, from-the-spec uncompressed AVI support (the RIFF 'AVI ' form of
# the Microsoft AVI file-format spec; third stdlib-only codec after PNG
# and WAV): BI_RGB 24-bit DIB frames ('00db' chunks), bottom-up rows, BGR
# byte order, rows padded to 4 bytes.  This is the one video container a
# pure-Python decoder can read exactly — compressed streams ('00dc' with
# biCompression != 0) raise.

AVI_MAGIC = b"RIFF"


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("<I", len(body)) + body + (b"\0" if len(body) & 1 else b"")


def _riff_list(subtype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", subtype + body)


def avi_encode(frames: np.ndarray, fps: int = 10) -> bytes:
    """Encode (n, H, W) uint8 grayscale frames as an uncompressed AVI
    (each frame a 24-bit BI_RGB DIB with R=G=B)."""
    if frames.dtype != np.uint8 or frames.ndim != 3:
        raise ValueError("avi_encode expects an (n, H, W) uint8 array")
    n, h, w = frames.shape
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 32-bit boundaries
    frame_size = row_bytes * h

    avih = struct.pack("<IIIIIIIIIIIIII",
                       1_000_000 // fps, frame_size * fps, 0, 0x10, n, 0,
                       1, frame_size, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII",
            0, 0, 0, 0, 1, fps, 0, n, frame_size, 0xFFFFFFFF, 0, 0))
    # BITMAPINFOHEADER: biSize..biClrImportant; biCompression 0 = BI_RGB
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size,
                       0, 0, 0, 0)
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih)
                      + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                                   + _riff_chunk(b"strf", strf)))
    movi_frames = []
    pad = np.zeros((h, row_bytes - w * 3), np.uint8)
    for f in range(n):
        bgr = np.repeat(frames[f][::-1, :, None], 3, axis=2)  # bottom-up
        movi_frames.append(_riff_chunk(
            b"00db", np.concatenate([bgr.reshape(h, w * 3), pad], axis=1)
            .tobytes()))
    movi = _riff_list(b"movi", b"".join(movi_frames))
    body = b"AVI " + hdrl + movi
    return AVI_MAGIC + struct.pack("<I", len(body)) + body


def avi_decode(data: bytes) -> tuple[np.ndarray, float]:
    """Decode an uncompressed AVI → ((n, H, W, 3) uint8 BGR frames, fps).
    Raises ValueError on compressed streams or non-24-bit DIBs (callers
    treat that as 'not decodable here', like the WAV codec)."""
    if data[:4] != AVI_MAGIC or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    w = h = None
    usec_per_frame = 0
    raw_frames: list[bytes] = []

    def walk(pos, end):
        nonlocal w, h, usec_per_frame
        while pos + 8 <= end:
            tag = data[pos:pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
            body_start = pos + 8
            if tag == b"LIST":
                walk(body_start + 4, body_start + size)  # skip list subtype
            elif tag == b"avih":
                vals = struct.unpack(
                    "<IIIIIIIIIIIIII", data[body_start:body_start + 56])
                usec_per_frame, w, h = vals[0], vals[8], vals[9]
            elif tag == b"strf" and size >= 20:
                _sz, _bw, _bh, _pl, bits, comp = struct.unpack(
                    "<IiiHHI", data[body_start:body_start + 20])
                if comp != 0 or bits != 24:
                    raise ValueError(
                        f"unsupported AVI stream (compression={comp}, "
                        f"bits={bits}) — only BI_RGB 24-bit DIB")
            elif tag in (b"00db", b"00dc"):
                raw_frames.append(data[body_start:body_start + size])
            pos = body_start + size + (size & 1)  # chunks are word-aligned

    walk(12, len(data))
    if w is None or not raw_frames:
        raise ValueError("truncated AVI (missing avih or frames)")
    row_bytes = (w * 3 + 3) & ~3
    out = np.empty((len(raw_frames), h, w, 3), np.uint8)
    for i, raw in enumerate(raw_frames):
        if len(raw) < row_bytes * h:
            raise ValueError("AVI frame data length mismatch")
        rows = np.frombuffer(raw[:row_bytes * h], np.uint8).reshape(h, row_bytes)
        out[i] = rows[:, :w * 3].reshape(h, w, 3)[::-1, :, :]  # bottom-up
    fps = 1_000_000.0 / usec_per_frame if usec_per_frame else 0.0
    return out, fps


def _decode_video_payload(content: bytes) -> Optional[tuple[np.ndarray, float]]:
    """Real video decode → ((n, H, W, 3) uint8 BGR frames, fps), or None
    when the pure-Python codec cannot read it (uncompressed AVI only)."""
    if content[:4] == AVI_MAGIC and content[8:12] == b"AVI ":
        try:
            return avi_decode(content)
        except ValueError:
            return None
    return None


def audio_features(df: DataFrame) -> DataFrame:
    """Spectral/energy features from decoded audio → (media_id,
    sample_rate, n_samples, rms, zero_crossings, peak, dominant_freq_hz).

    Feature arithmetic is engine-exact by construction for 16-bit PCM:
    each sample is a dyadic rational (v/32768), squares stay ≤30 bits, and
    float64 accumulation over ≤2²³ such terms is exact — so rms/peak/zcr
    agree bit-for-bit with any engine recomputing them from the same
    integers (the audio_features oracle relies on this).  dominant_freq_hz
    is the argmax bin of an rFFT magnitude spectrum (numpy), the one
    genuinely float-order-dependent feature — pinned in tests, not
    oracled.  A payload the WAV codec cannot read raises."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {k: [] for k in ("media_id", "sample_rate", "n_samples",
                                    "rms", "zero_crossings", "peak",
                                    "dominant_freq_hz")}
            for _, row in pdf.iterrows():
                content = bytes(row["content"])
                dec = _decode_audio_payload(content)
                if dec is None:
                    raise ValueError(
                        f"media_id={row['media_id']}: payload not decodable")
                s, sr = dec
                s64 = s.astype(np.float64)
                n = s64.size
                rms = float(np.sqrt(np.sum(s64 * s64) / n)) if n else 0.0
                zc = int(np.count_nonzero(s64[:-1] * s64[1:] < 0)) if n > 1 else 0
                peak = float(np.max(np.abs(s64))) if n else 0.0
                if n > 1:
                    spec = np.abs(np.fft.rfft(s64))
                    dom = float(np.argmax(spec[1:]) + 1) * sr / n  # skip DC
                else:
                    dom = 0.0
                rows["media_id"].append(row["media_id"])
                rows["sample_rate"].append(sr)
                rows["n_samples"].append(n)
                rows["rms"].append(rms)
                rows["zero_crossings"].append(zc)
                rows["peak"].append(peak)
                rows["dominant_freq_hz"].append(dom)
            yield pd.DataFrame(rows)

    return (
        df.filter(F.col("kind") == "audio")
        .select("media_id", "content", "meta")
        .mapInPandas(_feat, schema="media_id bigint, sample_rate int, "
                                   "n_samples bigint, rms double, "
                                   "zero_crossings bigint, peak double, "
                                   "dominant_freq_hz double")
    )


def video_features(df: DataFrame) -> DataFrame:
    """Clip-level features from decoded video → (media_id, n_frames,
    height, width, fps, mean_luma8, motion).

    ``mean_luma8`` and ``motion`` (mean absolute inter-frame byte delta)
    are computed on the RAW DIB bytes with int64 accumulation, then one
    double division — exact, order-independent arithmetic any engine
    reproduces bit-for-bit from the same integers (the video_features
    oracle recomputes the synthetic frames closed-form in SQL).  A payload
    the AVI codec cannot read raises."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {k: [] for k in ("media_id", "n_frames", "height",
                                    "width", "fps", "mean_luma8", "motion")}
            for _, row in pdf.iterrows():
                content = bytes(row["content"])
                dec = _decode_video_payload(content)
                if dec is None:
                    raise ValueError(
                        f"media_id={row['media_id']}: payload not decodable")
                bgr, fps = dec
                n, h, w, _ = bgr.shape
                b64 = bgr.astype(np.int64)
                mean8 = float(b64.sum()) / (n * h * w * 3) / 255.0
                motion = (float(np.abs(b64[1:] - b64[:-1]).sum())
                          / ((n - 1) * h * w * 3) / 255.0 if n > 1 else 0.0)
                rows["media_id"].append(row["media_id"])
                rows["n_frames"].append(n)
                rows["height"].append(h); rows["width"].append(w)
                rows["fps"].append(float(fps))
                rows["mean_luma8"].append(mean8)
                rows["motion"].append(motion)
            yield pd.DataFrame(rows)

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "content", "meta")
        .mapInPandas(_feat, schema="media_id bigint, n_frames int, "
                                   "height int, width int, fps double, "
                                   "mean_luma8 double, motion double")
    )


def resize_meta(df: DataFrame, *, max_side: int = 256) -> DataFrame:
    """Resize planning: pure-metadata operator computing target dimensions
    (aspect-preserving, longest side ≤ max_side) WITHOUT touching payloads —
    runs as a narrow column expression over the whole corpus."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(1.0), F.lit(max_side) / F.greatest(w, h).cast("double"))
    return df.withColumn("target_width", F.ceil(w * scale).cast("int")).withColumn(
        "target_height", F.ceil(h * scale).cast("int")
    )


def sample_frames(df: DataFrame, *, every_n: int = 10) -> DataFrame:
    """Video frame sampling plan: explode frame indices 0, n, 2n, … from
    meta.n_frames — pure Spark (no payload IO) producing the work-list a
    frame decoder consumes.  Output: (media_id, frame_idx)."""
    idx = F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                     F.lit(every_n))
    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", F.explode(idx).alias("frame_idx"))
    )


def sawtooth_pcm(freq: int, sample_rate: int, n: int, amp: int) -> np.ndarray:
    """Integer sawtooth waveform — int16 samples from pure integer
    arithmetic (``((t·f) mod sr)·2A // sr − A``), so any engine can
    recompute the exact samples closed-form (the audio_features oracle
    does, in SQL).  Fundamental frequency ``freq`` Hz at ``sample_rate``."""
    t = np.arange(n, dtype=np.int64)
    return ((t * freq) % sample_rate * (2 * amp) // sample_rate - amp).astype(
        np.int16)


def gradient_frames(n: int, h: int, w: int) -> np.ndarray:
    """Deterministic video frames from pure integer arithmetic —
    ``pixel(f, y, x) = (3x + 5y + 7f) mod 256`` — so any engine can
    recompute the exact stored bytes closed-form (the video_features
    oracle does, in SQL)."""
    f, y, x = np.meshgrid(np.arange(n), np.arange(h), np.arange(w),
                          indexing="ij")
    return ((x * 3 + y * 5 + f * 7) % 256).astype(np.uint8)


def synthetic_media(spark: SparkSession, n: int = 100, *, seed: int = 7) -> DataFrame:
    """Deterministic media table for tests/fixtures.  ALL THREE payload
    tiers are real: images are PNGs (seeded random grayscale, encoded by
    ``png_encode``), audio clips are WAVs (integer sawtooth PCM,
    ``wav_encode``), and videos are uncompressed AVIs (integer gradient
    frames, ``avi_encode``) — the feature operators decode them in any
    environment."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        vid_frames = 6 + (i % 3) * 2
        if kind == "image":
            w = 64 + (i % 4) * 32
            h = 48 + (i % 3) * 16
            rng = np.random.RandomState(seed * 100003 + i)
            content = png_encode(rng.randint(0, 256, (h, w)).astype(np.uint8))
        elif kind == "audio":
            content = wav_encode(
                sawtooth_pcm(50 + (i % 40) * 10, 8000,
                             1600 + (i % 4) * 400, 8192 + (i % 8) * 1024),
                8000)
        else:
            content = avi_encode(gradient_frames(vid_frames, 12, 16), fps=10)
        meta = {
            "mime": {"image": "image/png", "audio": "audio/wav",
                     "video": "video/x-msvideo"}[kind],
            "width": (16 if kind == "video"
                      else 64 + (i % 4) * 32 if kind == "image" else None),
            "height": (12 if kind == "video"
                       else 48 + (i % 3) * 16 if kind == "image" else None),
            "sample_rate": 8000 if kind == "audio" else None,
            "n_frames": vid_frames if kind == "video" else None,
            "duration_s": ((1600 + (i % 4) * 400) / 8000.0 if kind == "audio"
                           else vid_frames / 10.0 if kind == "video" else None),
        }
        rows.append((i, kind, bytearray(content), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
