"""Multimodal column plumbing: schemas, the metadata planners, the
pure-Python PNG/WAV/AVI codecs and the audio/video feature operators."""

import numpy as np
import pytest

from bigvectorbench_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synthetic_media(spark, n=60).cache()


def test_png_roundtrip():
    """png_encode against an independent parse of the spec: IHDR says
    8-bit grayscale of the right size, and the inflated IDAT holds each
    row behind a filter-0 byte."""
    import struct
    import zlib

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, (37, 53)).astype(np.uint8)
    data = mm.png_encode(gray)
    assert data[:8] == mm.PNG_MAGIC
    chunks, pos = {}, 8
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        tag, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
        assert struct.unpack(">I", data[pos + 8 + n:pos + 12 + n])[0] == (
            zlib.crc32(tag + body) & 0xFFFFFFFF)
        chunks[tag] = body
        pos += 12 + n
    assert struct.unpack(">IIBBBBB", chunks[b"IHDR"]) == (53, 37, 8, 0, 0, 0, 0)
    raw = np.frombuffer(zlib.decompress(chunks[b"IDAT"]), np.uint8).reshape(37, 54)
    assert not raw[:, 0].any()
    np.testing.assert_array_equal(raw[:, 1:], gray)


def test_media_schema(media):
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    assert dict(media.dtypes)["content"] == "binary"


def test_resize_meta_aspect(media):
    out = mm.resize_meta(media.filter("kind = 'image'"), max_side=32).collect()
    for r in out:
        assert max(r["target_width"], r["target_height"]) <= 32
        # aspect ratio approximately preserved
        orig = r["meta"]["width"] / r["meta"]["height"]
        new = r["target_width"] / r["target_height"]
        assert abs(orig - new) / orig < 0.2


def test_sample_frames(media):
    out = mm.sample_frames(media, every_n=30).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    meta = {r["media_id"]: r["meta"]["n_frames"] for r in
            media.filter("kind = 'video'").collect()}
    assert set(by_id) == set(meta)
    for mid, frames in by_id.items():
        assert frames == list(range(0, meta[mid], 30))


# ------------------------------------------------------------- WAV codec


def test_wav_roundtrip_exact():
    rng = np.random.RandomState(5)
    samples = rng.randint(-32768, 32768, 4321).astype(np.int16)
    out, sr = mm.wav_decode(mm.wav_encode(samples, 16000))
    assert sr == 16000
    # every int16/32768 is exact in float32 — the roundtrip is lossless
    np.testing.assert_array_equal((out * 32768.0).astype(np.int16), samples)


def test_wav_header_matches_spec():
    """The encoder writes the canonical 44-byte PCM header byte-for-byte
    (RIFF size math, fmt fields, data size) — pinned against the spec, not
    against wav_decode, so symmetric codec bugs can't hide."""
    import struct

    samples = np.arange(4, dtype=np.int16)
    data = mm.wav_encode(samples, 8000)
    assert data[:4] == b"RIFF"
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8
    assert data[8:12] == b"WAVE"
    assert data[12:16] == b"fmt " and struct.unpack("<I", data[16:20])[0] == 16
    fmt, ch, sr, byte_rate, align, bits = struct.unpack("<HHIIHH", data[20:36])
    assert (fmt, ch, sr, byte_rate, align, bits) == (1, 1, 8000, 16000, 2, 16)
    assert data[36:40] == b"data" and struct.unpack("<I", data[40:44])[0] == 8
    assert data[44:] == samples.tobytes()


def test_wav_decode_handwritten_stereo_8bit():
    """Decode paths the encoder never produces: 8-bit PCM, stereo (channel
    mean), an odd-size chunk needing word alignment, and a LIST chunk that
    must be skipped — built by hand from the spec."""
    import struct

    def chunk(tag, body):
        return tag + struct.pack("<I", len(body)) + body + (b"\0" if len(body) & 1 else b"")

    # stereo 8-bit: L = 255 (max), R = 0 (min) -> mean = ((127/128)+(-1))/2
    fmt = struct.pack("<HHIIHH", 1, 2, 4000, 8000, 2, 8)
    pcm = bytes([255, 0, 128, 128, 0, 255])  # 3 frames
    body = (b"WAVE" + chunk(b"LIST", b"INFOx")  # odd-size skippable chunk
            + chunk(b"fmt ", fmt) + chunk(b"data", pcm))
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    out, sr = mm.wav_decode(wav)
    assert sr == 4000 and out.shape == (3,)
    np.testing.assert_allclose(
        out, [((255 - 128) / 128.0 + (0 - 128) / 128.0) / 2, 0.0,
              ((0 - 128) / 128.0 + (255 - 128) / 128.0) / 2], atol=1e-7)


def test_wav_decode_rejects_non_pcm():
    import struct

    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # IEEE float
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", 0))
    with pytest.raises(ValueError, match="unsupported WAV"):
        mm.wav_decode(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_audio_features_sawtooth_pinned(media):
    """Sample-level pin through the full Spark path: decode the real WAV
    payloads and check rms/zcr/peak/dominant-frequency against closed-form
    values for the known sawtooth (media row i=1: f=60 Hz, n=2000,
    a=9216)."""
    feats = {r["media_id"]: r for r in
             mm.audio_features(media).collect()}
    assert len(feats) == 20  # n=60 fixture, every 3rd row is audio
    r = feats[1]
    f, n, a = 60, 2000, 9216
    s = mm.sawtooth_pcm(f, 8000, n, a).astype(np.float64) / 32768.0
    assert r["n_samples"] == n and r["sample_rate"] == 8000
    assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(s * s))), abs=1e-12)
    assert r["zero_crossings"] == int(np.count_nonzero(s[:-1] * s[1:] < 0))
    assert r["peak"] == pytest.approx(float(np.max(np.abs(s))), abs=1e-12)
    # sawtooth fundamental: the rFFT argmax bin sits at f Hz (bin width
    # sr/n = 4 Hz here, 60 is a bin center)
    assert r["dominant_freq_hz"] == pytest.approx(60.0, abs=4.0)


def test_audio_codec_modes(media, spark):
    """WAV payloads decode; a payload the codec cannot read raises instead
    of being given made-up features."""
    opaque = spark.createDataFrame(
        [(999, "audio", bytearray(b"not-a-wav" * 10),
          {"mime": "audio/ogg", "width": None, "height": None,
           "sample_rate": 8000, "n_frames": None, "duration_s": 0.1})],
        mm.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="not decodable"):
        mm.audio_features(media.unionByName(opaque)).collect()
    assert mm.audio_features(media).count() == 20


# ------------------------------------------------------------- AVI codec


def test_avi_roundtrip_exact():
    fr = mm.gradient_frames(7, 12, 16)
    bgr, fps = mm.avi_decode(mm.avi_encode(fr, fps=10))
    assert fps == 10.0 and bgr.shape == (7, 12, 16, 3)
    for c in range(3):  # encoder writes R=G=B
        np.testing.assert_array_equal(bgr[..., c], fr)


def test_avi_odd_width_row_padding():
    """w=7 → 21-byte rows pad to 24; the decoder must strip the pad and
    recover exact pixels (the classic DIB stride bug)."""
    fr = mm.gradient_frames(3, 5, 7)
    bgr, _ = mm.avi_decode(mm.avi_encode(fr, fps=5))
    np.testing.assert_array_equal(bgr[..., 1], fr)


def test_avi_container_matches_spec():
    """Pin the RIFF/AVI container against the spec with an independent
    parse (not avi_decode): RIFF size math, hdrl/movi lists, avih
    dimensions and frame count, strf BI_RGB 24-bit."""
    import struct

    data = mm.avi_encode(mm.gradient_frames(4, 6, 8), fps=10)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8
    # first chunk: LIST hdrl
    assert data[12:16] == b"LIST" and data[20:24] == b"hdrl"
    assert data[24:28] == b"avih"
    avih = struct.unpack("<IIIIIIIIIIIIII", data[32:88])
    assert avih[0] == 100_000           # usec/frame at 10 fps
    assert avih[4] == 4                 # total frames
    assert (avih[8], avih[9]) == (8, 6)  # width, height
    # strf BITMAPINFOHEADER sits inside strl; locate by tag
    i = data.index(b"strf")
    _sz, bw, bh, _pl, bits, comp = struct.unpack("<IiiHHI", data[i + 8:i + 28])
    assert (bw, bh, bits, comp) == (8, 6, 24, 0)
    # movi holds 4 00db chunks of padded row bytes
    assert data.count(b"00db") == 4


def test_avi_decode_rejects_compressed():
    data = bytearray(mm.avi_encode(mm.gradient_frames(2, 4, 4), fps=10))
    i = bytes(data).index(b"strf")
    data[i + 24:i + 28] = b"MJPG"  # biCompression: BI_RGB -> fourcc
    with pytest.raises(ValueError, match="unsupported AVI"):
        mm.avi_decode(bytes(data))


def test_video_features_pinned(media):
    feats = {r["media_id"]: r for r in
             mm.video_features(media).collect()}
    assert len(feats) == 20
    r = feats[2]
    n = 6 + (2 % 3) * 2
    b64 = np.repeat(mm.gradient_frames(n, 12, 16)[..., None], 3, 2).astype(np.int64)
    assert (r["n_frames"], r["height"], r["width"]) == (n, 12, 16)
    assert r["fps"] == 10.0
    assert r["mean_luma8"] == pytest.approx(
        float(b64.sum()) / b64.size / 255.0, abs=1e-12)
    assert r["motion"] == pytest.approx(
        float(np.abs(b64[1:] - b64[:-1]).sum()) / b64[1:].size / 255.0,
        abs=1e-12)


def test_video_codec_modes(media, spark):
    """AVI payloads decode; a payload the codec cannot read raises."""
    opaque = spark.createDataFrame(
        [(998, "video", bytearray(b"not-an-avi" * 20),
          {"mime": "video/mp4", "width": 8, "height": 8,
           "sample_rate": None, "n_frames": 12, "duration_s": 1.2})],
        mm.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="not decodable"):
        mm.video_features(media.unionByName(opaque)).collect()
    assert mm.video_features(media).count() == 20
