"""WAV codec + MJPEG framing + real audio/video multimodal features.

Round 5: the audio and video legs of the multimodal surface get real
dependency-free codecs (functions/wav_codec.py; jpeg_codec's
iter_jpeg_frames). The reference repo has no audio/video path at all —
these are graft-surface tests (SURVEY.md §2 multimodal)."""

import struct

import numpy as np
import pytest

from web_template_forensics_spark.functions.jpeg_codec import (
    JpegFormatError,
    decode_jpeg,
    encode_jpeg,
    encode_mjpeg,
    iter_jpeg_frames,
)
from web_template_forensics_spark.functions.wav_codec import (
    WavFormatError,
    decode_wav,
    encode_wav,
    is_wav,
)


def _tone(n, ch, seed):
    rng = np.random.RandomState(seed)
    t = np.arange(n, dtype=np.float64)
    chans = [
        np.round(12000.0 * np.sin(2 * np.pi * (220.0 + 97.0 * c) * t / 16000.0))
        + rng.randint(-50, 51, size=n)
        for c in range(ch)
    ]
    return np.clip(np.stack(chans, axis=1), -32768, 32767).astype(np.int16)


# ------------------------------------------------------------------ WAV


def test_wav_roundtrip_16bit_mono_and_stereo():
    for ch in (1, 2):
        s = _tone(777, ch, seed=ch)
        out, rate = decode_wav(encode_wav(s, 16000))
        assert rate == 16000
        assert out.shape == (777, ch)
        assert (out == s).all()


def test_wav_roundtrip_8bit_is_lossless_on_8bit_grid():
    # int16 values of the form (v - 128) << 8 survive the 8-bit narrow
    rng = np.random.RandomState(3)
    v8 = rng.randint(0, 256, size=(500, 2))
    s = ((v8 - 128) << 8).astype(np.int16)
    out, rate = decode_wav(encode_wav(s, 8000, bits=8))
    assert rate == 8000
    assert (out == s).all()


def test_wav_1d_input_becomes_mono():
    s = _tone(64, 1, seed=9)[:, 0]
    out, _ = decode_wav(encode_wav(s, 44100))
    assert out.shape == (64, 1)
    assert (out[:, 0] == s).all()


def test_wav_odd_data_chunk_is_word_aligned():
    # 8-bit mono with odd sample count -> odd data size -> pad byte
    s = ((np.arange(33) % 256 - 128) << 8).astype(np.int16)
    payload = encode_wav(s, 8000, bits=8)
    assert len(payload) % 2 == 0
    out, _ = decode_wav(payload)
    assert (out[:, 0] == s).all()


def test_wav_skips_unknown_chunks_and_any_order():
    s = _tone(100, 1, seed=5)
    payload = bytearray(encode_wav(s, 22050))
    # splice a LIST chunk (odd size -> with pad) between WAVE and fmt
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = bytes(payload[:12]) + extra + bytes(payload[12:])
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    out, rate = decode_wav(spliced)
    assert rate == 22050 and (out[:, 0] == s[:, 0]).all()


def test_wav_extensible_format_wraps_pcm():
    s = _tone(50, 2, seed=6)
    payload = bytearray(encode_wav(s, 48000))
    # rewrite the fmt chunk as WAVE_FORMAT_EXTENSIBLE wrapping PCM
    fmt_at = payload.index(b"fmt ")
    body = payload[fmt_at + 8 : fmt_at + 8 + 16]
    ext = (
        body[:0]
        + struct.pack("<H", 0xFFFE)
        + body[2:16]
        + struct.pack("<HHI", 22, 16, 0x3)
        + struct.pack("<H", 0x0001)
        + b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    )
    new = (
        bytes(payload[:fmt_at])
        + b"fmt "
        + struct.pack("<I", len(ext))
        + ext
        + bytes(payload[fmt_at + 8 + 16 :])
    )
    new = new[:4] + struct.pack("<I", len(new) - 8) + new[8:]
    out, rate = decode_wav(new)
    assert rate == 48000 and (out == s).all()


def test_wav_error_paths():
    assert not is_wav(b"RIFFxxxxAVI ")
    with pytest.raises(WavFormatError, match="not a RIFF"):
        decode_wav(b"OggS" + b"\x00" * 40)
    s = _tone(10, 1, seed=1)
    payload = bytearray(encode_wav(s, 8000))
    fmt_at = payload.index(b"fmt ")
    payload[fmt_at + 8 : fmt_at + 10] = struct.pack("<H", 0x0055)  # mp3 tag
    with pytest.raises(WavFormatError, match="format tag"):
        decode_wav(bytes(payload))
    with pytest.raises(WavFormatError, match="missing fmt or data"):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")


# ----------------------------------------------------------------- MJPEG


def _frames(n, seed=11):
    rng = np.random.RandomState(seed)
    return [
        rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8) for _ in range(n)
    ]


def test_mjpeg_framing_structural_roundtrip():
    frames = _frames(5)
    stream = encode_mjpeg(frames, quality=90)
    parts = list(iter_jpeg_frames(stream))
    assert len(parts) == 5
    for part, orig in zip(parts, frames):
        dec = decode_jpeg(part)
        assert dec.shape == orig.shape
        assert np.abs(dec.astype(int) - orig.astype(int)).mean() < 40


def test_mjpeg_framing_survives_soi_bytes_in_segments():
    # a DQT containing the 0xFF 0xD8 byte pair must not split the frame:
    # craft it by injecting a comment segment with those bytes
    frames = _frames(3, seed=12)
    encoded = [encode_jpeg(f, quality=85) for f in frames]
    poisoned = []
    for e in encoded:
        com = b"\xff\xfe" + struct.pack(">H", 2 + 4) + b"\xff\xd8\xff\xd8"
        poisoned.append(e[:2] + com + e[2:])
    stream = b"".join(poisoned)
    parts = list(iter_jpeg_frames(stream))
    assert len(parts) == 3
    for p in parts:
        decode_jpeg(p)  # still valid JPEGs


def test_mjpeg_framing_with_restart_markers():
    frames = [f[:, :, 0] for f in _frames(2, seed=13)]
    stream = b"".join(encode_jpeg(f, quality=80, restart_interval=1) for f in frames)
    parts = list(iter_jpeg_frames(stream))
    assert len(parts) == 2


def test_mjpeg_truncated_raises():
    stream = encode_mjpeg(_frames(2, seed=14))
    with pytest.raises(JpegFormatError):
        list(iter_jpeg_frames(stream[:-4]))
    with pytest.raises(JpegFormatError, match="expected SOI"):
        list(iter_jpeg_frames(b"\x00\x01" + stream))


# ------------------------------------------- multimodal feature wiring


def test_audio_features_math():
    from web_template_forensics_spark.operators.multimodal import audio_features

    s = _tone(2048, 2, seed=21)
    feat, tm = audio_features(s)
    assert feat.shape == (8,) and abs(feat.sum() - 1.0) < 1e-9
    flat = s.astype(np.float64).reshape(-1)
    assert abs(tm[0] - np.sqrt((flat**2).mean()) / 32768.0) < 1e-12
    assert 0.0 < tm[1] < 1.0  # a tone crosses zero regularly
    assert abs(tm[2] - np.abs(flat).mean() / 32768.0) < 1e-12


def test_features_chunk_routes_real_wav_and_mjpeg(spark):
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
        extract_media_features,
    )

    s = _tone(1000, 1, seed=31)
    wav = encode_wav(s, 16000)
    frames = _frames(4, seed=32)
    mj = encode_mjpeg(frames, quality=90)
    rows = [
        (0, "audio", bytearray(wav),
         {"width": None, "height": None, "sample_rate": 16000,
          "duration_ms": 62, "codec": "pcm_s16le"}),
        (1, "video", bytearray(mj),
         {"width": 16, "height": 16, "sample_rate": None,
          "duration_ms": 4000, "codec": "mjpeg"}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_media_features(df).collect()}
    feat, tm = audio_features(s[:, None] if s.ndim == 1 else s)
    got = np.array(out[0].feat)
    assert np.abs(got - feat.astype(np.float32)).max() < 1e-7
    assert np.abs(np.array(out[0].thumb_mean) - tm.astype(np.float32)).max() < 1e-7
    # video: thumb_mean is the mean frame RGB (random noise -> ~0.5)
    vtm = np.array(out[1].thumb_mean)
    assert np.abs(vtm - 0.5).max() < 0.05
    assert abs(sum(out[1].feat) - 1.0) < 1e-5


def test_sample_video_frames_real_mjpeg(spark):
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_video_frames,
    )

    # 4 frames over 4000 ms -> sampling every 1000 ms hits each frame once
    frames = [np.full((8, 8, 3), 32 * (i + 1), dtype=np.uint8) for i in range(4)]
    mj = encode_mjpeg(frames, quality=95)
    rows = [(7, "video", bytearray(mj),
             {"width": 8, "height": 8, "sample_rate": None,
              "duration_ms": 4000, "codec": "mjpeg"})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_video_frames(df, every_ms=1000).collect()
    assert [r.frame_no for r in sorted(out, key=lambda r: r.frame_no)] == [0, 1, 2, 3]
    # each sampled frame is flat-valued -> its histogram concentrates in
    # one bin, and the bin index advances with the frame value
    hot_bins = [int(np.argmax(r.feat)) for r in sorted(out, key=lambda r: r.frame_no)]
    assert hot_bins == sorted(hot_bins)
    assert len(set(hot_bins)) >= 3
