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
- **real decode, three tiers** (``_decode_payload``): PNG payloads decode
  with the built-in pure-Python codec below (zlib inflate + scanline
  unfilter — no external library needed, always available); other formats
  decode through PIL when it is importable (import-gated); payloads
  neither engine can read fall back to the deterministic byte-derived
  fake (crc32-seeded, stable across executors) so the pipeline shape
  stays testable on opaque fixtures.  ``codec="real"`` turns the
  fallback into a hard error for corpora where silent fakes would be a
  correctness bug.
"""

from __future__ import annotations

import hashlib
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

try:  # richer-format decoder (JPEG, WebP, ...), if available
    import PIL.Image  # noqa: F401
    from io import BytesIO as _BytesIO

    HAS_PIL = True
except Exception:  # pragma: no cover - container has no PIL
    HAS_PIL = False

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


# ------------------------------------------------------------- PNG codec
# Minimal, from-the-spec PNG support (RFC 2083): 8-bit depth, color types
# 0/2/4/6, non-interlaced, all five scanline filters.  This is the subset
# every standard encoder (including PIL's default) emits for photos.

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


def _unfilter(raw: bytes, h: int, w: int, ch: int) -> np.ndarray:
    """Reverse PNG scanline filtering → (h, w*ch) uint8 samples."""
    stride = w * ch
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos:pos + stride], np.uint8).astype(np.int32)
        pos += stride
        if ft == 0:  # None
            rec = line
        elif ft == 2:  # Up (vectorized — the common photo filter)
            rec = (line + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need a left scan
            rec = line.copy()
            for x in range(stride):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(prev[x])
                if ft == 1:
                    rec[x] = (line[x] + a) & 0xFF
                elif ft == 3:
                    rec[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


def png_decode(data: bytes) -> np.ndarray:
    """Decode a PNG payload → (H, W) float32 grayscale in [0, 1].

    Color images reduce by ITU-R BT.601 luminance; alpha is dropped.
    Raises ValueError on the unsupported corners (16-bit, palette,
    interlaced) — callers treat that as 'not decodable here' and try PIL."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if depth != 8 or channels is None or interlace != 0:
        raise ValueError(f"unsupported PNG variant (depth={depth}, "
                         f"color={ctype}, interlace={interlace})")
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (w * channels + 1):
        raise ValueError("PNG data length mismatch")
    samples = _unfilter(raw, h, w, channels).reshape(h, w, channels)
    if ctype == 0:
        gray = samples[:, :, 0].astype(np.float32)
    elif ctype == 4:  # gray + alpha
        gray = samples[:, :, 0].astype(np.float32)
    else:  # RGB / RGBA → BT.601 luma
        rgb = samples[:, :, :3].astype(np.float32)
        gray = rgb[:, :, 0] * 0.299 + rgb[:, :, 1] * 0.587 + rgb[:, :, 2] * 0.114
    return gray / 255.0


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
    decodable here', mirroring png_decode's unsupported corners."""
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
    """Real audio decode → (float32 samples, sample_rate), or None when no
    available engine reads the payload (WAV via the pure-Python codec; no
    compressed-audio analog of PIL exists in this container)."""
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
# biCompression != 0) raise, and fall to the deterministic fake.

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
    """Decode an uncompressed AVI → ((n, H, W) float32 grayscale in
    [0, 1], fps).  BT.601 luma over the BGR samples; raises ValueError on
    compressed streams or non-24-bit DIBs (callers treat that as 'not
    decodable here', like the PNG/WAV codecs)."""
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


def avi_decode_luma(data: bytes) -> tuple[np.ndarray, float]:
    """avi_decode + BT.601 luma → ((n, H, W) float32 in [0, 1], fps)."""
    bgr, fps = avi_decode(data)
    f = bgr.astype(np.float32)
    return (f[..., 2] * 0.299 + f[..., 1] * 0.587 + f[..., 0] * 0.114) / 255.0, fps


def _decode_video_payload(content: bytes) -> Optional[tuple[np.ndarray, float]]:
    """Real video decode → ((n, H, W, 3) uint8 BGR frames, fps), or None
    when no available engine reads the payload (uncompressed AVI only —
    no ffmpeg analog exists in this container)."""
    if content[:4] == AVI_MAGIC and content[8:12] == b"AVI ":
        try:
            return avi_decode(content)
        except ValueError:
            return None
    return None


def _decode_payload(content: bytes) -> Optional[np.ndarray]:
    """Real decode → (H, W) float32 grayscale in [0, 1], or None if no
    available engine can read the payload.  PNG uses the pure-Python codec
    (always available, deterministic); everything else goes through PIL
    when importable."""
    if content[:8] == PNG_MAGIC:
        try:
            return png_decode(content)
        except ValueError:
            pass  # odd PNG variant — fall through to PIL if present
    if HAS_PIL:
        try:
            img = PIL.Image.open(_BytesIO(content)).convert("L")
            return np.asarray(img, dtype=np.float32) / 255.0
        except Exception:
            return None
    return None


def _fake_decode(content: bytes, out_elems: int) -> np.ndarray:
    """Fallback codec of last resort: deterministic float32 values derived
    from the payload bytes (crc32-seeded), standing in for decoded
    pixels/samples when no real engine can read the format.  Stable across
    processes — the pipeline is reproducible either way."""
    seed = zlib.crc32(content) & 0xFFFFFFFF
    rng = np.random.RandomState(seed)
    return rng.rand(out_elems).astype(np.float32)


def decode_image(df: DataFrame, *, max_pixels: int = 64 * 64,
                 codec: str = "auto") -> DataFrame:
    """Decode image payloads → (media_id, height, width, pixels ARRAY<FLOAT>).

    ``codec``: ``"auto"`` (default) decodes real pixels where an engine can
    read the payload (pure-Python PNG codec, then PIL if importable) and
    falls back to the deterministic fake for opaque bytes; ``"real"``
    raises on undecodable payloads (corrupt-data must be visible, not
    faked); ``"fake"`` forces the stub (fixture mode).

    Output size is bounded by ``max_pixels`` regardless of payload size —
    decoded frames downsample by power-of-two striding, the fake path caps
    meta dims the same way — so executor memory per batch is predictable."""
    if codec not in ("auto", "real", "fake"):
        raise ValueError(f"codec must be auto|real|fake, got {codec!r}")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out_ids, out_h, out_w, out_px = [], [], [], []
            for _, row in pdf.iterrows():
                content = bytes(row["content"])
                arr = None if codec == "fake" else _decode_payload(content)
                if arr is not None:
                    while arr.shape[0] * arr.shape[1] > max_pixels:
                        arr = arr[::2, ::2]
                    h, w = arr.shape
                    px = arr.astype(np.float32).reshape(-1)
                else:
                    if codec == "real":
                        raise ValueError(
                            f"media_id={row['media_id']}: payload not decodable "
                            "by any available engine (PNG codec"
                            + (", PIL" if HAS_PIL else "; PIL not installed")
                            + ") and codec='real' forbids the fake fallback")
                    meta = row["meta"]
                    h = min(int(meta["height"] or 8), 256)
                    w = min(int(meta["width"] or 8), 256)
                    while h * w > max_pixels:
                        h, w = max(h // 2, 1), max(w // 2, 1)
                    px = _fake_decode(content, h * w)
                out_ids.append(row["media_id"]); out_h.append(h); out_w.append(w)
                out_px.append(px.tolist())
            yield pd.DataFrame({"media_id": out_ids, "height": out_h,
                                "width": out_w, "pixels": out_px})

    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "content", "meta")
        .mapInPandas(_decode, schema="media_id bigint, height int, width int, pixels array<float>")
    )


def extract_features(df: DataFrame, *, dim: int = 64, codec: str = "auto") -> DataFrame:
    """Feature extraction → (media_id, embedding ARRAY<FLOAT>): the batch
    embedding-generation stage (BASELINE.json: 'MLlib for batch embedding
    generation').  Decodable payloads embed real pixel content (resampled
    grayscale signature — deterministic, engine-independent); opaque ones
    use the fake under ``codec="auto"``.  At scale this UDF is where an
    ONNX/torch batch-infer call goes, one model per executor, Arrow
    batches in — the surrounding plan (select-prune, batch iteration,
    schema) is exactly what that deployment uses."""

    def _embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            embs = []
            for c in pdf["content"]:
                content = bytes(c)
                arr = None if codec == "fake" else _decode_payload(content)
                if arr is not None:
                    g = arr.reshape(-1)
                    idx = np.linspace(0.0, g.size - 1, dim)
                    emb = np.interp(idx, np.arange(g.size), g).astype(np.float32)
                elif codec == "real":
                    raise ValueError("payload not decodable and codec='real'")
                else:
                    emb = _fake_decode(content, dim)
                embs.append(emb.tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "embedding": embs})

    return df.select("media_id", "content").mapInPandas(
        _embed, schema="media_id bigint, embedding array<float>"
    )


def decode_audio(df: DataFrame, *, max_samples: int = 65536,
                 codec: str = "auto") -> DataFrame:
    """Decode audio payloads → (media_id, sample_rate, n_samples,
    samples ARRAY<FLOAT>) — the audio twin of ``decode_image``.

    ``codec`` tiers mirror the image path exactly: ``"auto"`` decodes real
    samples where the pure-Python WAV codec reads the payload and falls
    back to the deterministic fake for opaque bytes; ``"real"`` raises on
    undecodable payloads; ``"fake"`` forces the stub.  Output is bounded
    by ``max_samples`` via power-of-two striding (decimation), keeping
    per-batch executor memory predictable whatever the clip length."""
    if codec not in ("auto", "real", "fake"):
        raise ValueError(f"codec must be auto|real|fake, got {codec!r}")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out_ids, out_sr, out_n, out_s = [], [], [], []
            for _, row in pdf.iterrows():
                content = bytes(row["content"])
                dec = None if codec == "fake" else _decode_audio_payload(content)
                if dec is not None:
                    s, sr = dec
                    while s.size > max_samples:
                        s = s[::2]
                        sr = max(sr // 2, 1)
                else:
                    if codec == "real":
                        raise ValueError(
                            f"media_id={row['media_id']}: payload not decodable "
                            "by the WAV codec and codec='real' forbids the "
                            "fake fallback")
                    meta = row["meta"]
                    sr = int(meta["sample_rate"] or 8000)
                    n = min(int((meta["duration_s"] or 1.0) * sr), max_samples)
                    s = _fake_decode(content, max(n, 1)) * 2.0 - 1.0
                out_ids.append(row["media_id"]); out_sr.append(sr)
                out_n.append(s.size); out_s.append(s.astype(np.float32).tolist())
            yield pd.DataFrame({"media_id": out_ids, "sample_rate": out_sr,
                                "n_samples": out_n, "samples": out_s})

    return (
        df.filter(F.col("kind") == "audio")
        .select("media_id", "content", "meta")
        .mapInPandas(_decode, schema="media_id bigint, sample_rate int, "
                                     "n_samples bigint, samples array<float>")
    )


def audio_features(df: DataFrame, *, codec: str = "auto") -> DataFrame:
    """Spectral/energy features from decoded audio → (media_id,
    sample_rate, n_samples, rms, zero_crossings, peak, dominant_freq_hz).

    Feature arithmetic is engine-exact by construction for 16-bit PCM:
    each sample is a dyadic rational (v/32768), squares stay ≤30 bits, and
    float64 accumulation over ≤2²³ such terms is exact — so rms/peak/zcr
    agree bit-for-bit with any engine recomputing them from the same
    integers (the audio_features oracle relies on this).  dominant_freq_hz
    is the argmax bin of an rFFT magnitude spectrum (numpy), the one
    genuinely float-order-dependent feature — pinned in tests, not
    oracled."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {k: [] for k in ("media_id", "sample_rate", "n_samples",
                                    "rms", "zero_crossings", "peak",
                                    "dominant_freq_hz")}
            for _, row in pdf.iterrows():
                content = bytes(row["content"])
                dec = None if codec == "fake" else _decode_audio_payload(content)
                if dec is not None:
                    s, sr = dec
                elif codec == "real":
                    raise ValueError(
                        f"media_id={row['media_id']}: payload not decodable "
                        "and codec='real' forbids the fake fallback")
                else:
                    meta = row["meta"]
                    sr = int(meta["sample_rate"] or 8000)
                    n = max(min(int((meta["duration_s"] or 1.0) * sr), 65536), 1)
                    s = _fake_decode(content, n) * 2.0 - 1.0
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


def decode_frames(df: DataFrame, *, every_n: int = 10, max_pixels: int = 64 * 64,
                  codec: str = "auto") -> DataFrame:
    """Execute the ``sample_frames`` plan against real payloads: decode
    every ``every_n``-th frame → (media_id, frame_idx, height, width,
    pixels ARRAY<FLOAT> luma) — the video twin of ``decode_image``, same
    codec tiers (AVI codec real / fake for opaque / ``"real"`` raises),
    same power-of-two pixel bound."""
    if codec not in ("auto", "real", "fake"):
        raise ValueError(f"codec must be auto|real|fake, got {codec!r}")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {k: [] for k in ("media_id", "frame_idx", "height",
                                    "width", "pixels")}
            for _, row in pdf.iterrows():
                content = bytes(row["content"])
                dec = None if codec == "fake" else _decode_video_payload(content)
                if dec is not None:
                    bgr, _fps = dec
                    f32 = bgr.astype(np.float32)
                    luma = (f32[..., 2] * 0.299 + f32[..., 1] * 0.587
                            + f32[..., 0] * 0.114) / 255.0
                    idxs = range(0, luma.shape[0], every_n)
                elif codec == "real":
                    raise ValueError(
                        f"media_id={row['media_id']}: payload not decodable "
                        "by the AVI codec and codec='real' forbids the fake "
                        "fallback")
                else:
                    meta = row["meta"]
                    n = max(int(meta["n_frames"] or 1), 1)
                    hh = min(int(meta["height"] or 8), 64)
                    ww = min(int(meta["width"] or 8), 64)
                    idxs = range(0, n, every_n)
                    fake = _fake_decode(content, len(idxs) * hh * ww).reshape(
                        len(idxs), hh, ww)
                    luma = dict(zip(idxs, fake))  # fake frames keyed by idx
                for fi in idxs:
                    arr = luma[fi]
                    while arr.shape[0] * arr.shape[1] > max_pixels:
                        arr = arr[::2, ::2]
                    rows["media_id"].append(row["media_id"])
                    rows["frame_idx"].append(fi)
                    rows["height"].append(arr.shape[0])
                    rows["width"].append(arr.shape[1])
                    rows["pixels"].append(arr.reshape(-1).tolist())
            yield pd.DataFrame(rows)

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "content", "meta")
        .mapInPandas(_decode, schema="media_id bigint, frame_idx int, "
                                     "height int, width int, pixels array<float>")
    )


def video_features(df: DataFrame, *, codec: str = "auto") -> DataFrame:
    """Clip-level features from decoded video → (media_id, n_frames,
    height, width, fps, mean_luma8, motion).

    ``mean_luma8`` and ``motion`` (mean absolute inter-frame byte delta)
    are computed on the RAW DIB bytes with int64 accumulation, then one
    double division — exact, order-independent arithmetic any engine
    reproduces bit-for-bit from the same integers (the video_features
    oracle recomputes the synthetic frames closed-form in SQL)."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {k: [] for k in ("media_id", "n_frames", "height",
                                    "width", "fps", "mean_luma8", "motion")}
            for _, row in pdf.iterrows():
                content = bytes(row["content"])
                dec = None if codec == "fake" else _decode_video_payload(content)
                if dec is not None:
                    bgr, fps = dec
                    n, h, w, _ = bgr.shape
                    b64 = bgr.astype(np.int64)
                    mean8 = float(b64.sum()) / (n * h * w * 3) / 255.0
                    motion = (float(np.abs(b64[1:] - b64[:-1]).sum())
                              / ((n - 1) * h * w * 3) / 255.0 if n > 1 else 0.0)
                elif codec == "real":
                    raise ValueError(
                        f"media_id={row['media_id']}: payload not decodable "
                        "and codec='real' forbids the fake fallback")
                else:
                    meta = row["meta"]
                    n = max(int(meta["n_frames"] or 1), 1)
                    h = min(int(meta["height"] or 8), 64)
                    w = min(int(meta["width"] or 8), 64)
                    fps = float(n) / meta["duration_s"] if meta["duration_s"] else 0.0
                    fake = _fake_decode(content, 2)
                    mean8, motion = float(fake[0]), float(fake[1])
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
    runs as a narrow column expression over the whole corpus; the actual
    pixel resample belongs in decode_image's UDF."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(1.0), F.lit(max_side) / F.greatest(w, h).cast("double"))
    return df.withColumn("target_width", F.ceil(w * scale).cast("int")).withColumn(
        "target_height", F.ceil(h * scale).cast("int")
    )


def sample_frames(df: DataFrame, *, every_n: int = 10) -> DataFrame:
    """Video frame sampling plan: explode frame indices 0, n, 2n, … from
    meta.n_frames — pure Spark (no payload IO) producing the work-list the
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
    frames, ``avi_encode``) — every decode tier runs end-to-end in any
    environment.  Opaque-byte fallbacks are exercised by dedicated test
    fixtures instead."""
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
