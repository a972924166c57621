"""Hostile-input robustness for the real codecs + the multimodal
fallback contract (round 5 close-out review findings).

The 100 TB rule under test: ONE malformed payload in a scanned corpus
must never fail the Spark task. Sniffing is magic-byte only, so the
feature path must degrade per-row (byte-histogram stand-in) when a
sniffed payload fails real decode; and the JPEG decoder must raise
TYPED errors (JpegFormatError, a ValueError) on hostile structures
rather than IndexError, and must DETECT truncated entropy data rather
than silently decoding phantom zero bits into wrong pixels."""

import struct

import numpy as np
import pandas as pd
import pytest

from web_template_forensics_spark.functions import jpeg_codec as jc
from web_template_forensics_spark.functions.jpeg_codec import (
    JpegFormatError,
    decode_jpeg,
    encode_jpeg,
    encode_mjpeg,
    iter_jpeg_frame_spans,
    iter_jpeg_frames,
)
from web_template_forensics_spark.operators.multimodal import (
    _byte_histogram_features,
    _features_chunk,
    mjpeg_sampled_frames,
)


def _img(seed, h=24, w=40):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)


# --------------------------------------------------------- jpeg decoder


@pytest.mark.parametrize("drop", [1, 2, 5])
def test_truncated_entropy_detected(drop):
    """Dropping entropy bytes before EOI must raise, not return wrong
    pixels: the 16-bit peek may LOAD phantom zero bytes, but consuming
    any bit beyond the real span is typed truncation."""
    e = encode_jpeg(_img(3), quality=85)
    bad = e[: -(2 + drop)] + e[-2:]  # keep EOI, drop entropy tail
    with pytest.raises(JpegFormatError, match="truncated entropy"):
        decode_jpeg(bad)


def test_truncated_entropy_detected_with_restarts():
    e = encode_jpeg(_img(4, 48, 48), quality=80, restart_interval=2)
    bad = e[:-3] + e[-2:]
    with pytest.raises(JpegFormatError):
        decode_jpeg(bad)


def test_intact_roundtrip_still_decodes():
    """The tightened consumed-bit accounting must not reject valid
    streams (final byte is 1-padded, so consumed <= available)."""
    for q in (60, 85, 95):
        for shape in [(8, 8), (24, 40), (33, 17)]:
            img = _img(q + shape[0], *shape)
            out = decode_jpeg(encode_jpeg(img, quality=q))
            assert out.shape == img.shape


def test_hostile_dc_huffman_value_is_typed_error():
    """A DHT mapping a DC symbol to a value >= 16 must raise
    JpegFormatError at parse, not IndexError deep in the entropy loop."""
    e = encode_jpeg(_img(5), quality=85)
    idx = e.find(b"\xff\xc4")
    seglen = int.from_bytes(e[idx + 2 : idx + 4], "big")
    body = bytearray(e[idx + 4 : idx + 2 + seglen])
    body[17] = 200  # first val of the first (DC) table
    bad = e[: idx + 4] + bytes(body) + e[idx + 2 + seglen :]
    with pytest.raises(JpegFormatError, match="DC huffman value"):
        decode_jpeg(bad)


@pytest.mark.parametrize("field", ["w", "h"])
def test_zero_dimension_sof_is_typed_error(field):
    e = encode_jpeg(_img(6), quality=85)
    idx = e.find(b"\xff\xc0")
    sof = bytearray(e[idx + 4 : idx + 10])
    off = 3 if field == "w" else 1
    sof[off : off + 2] = (0).to_bytes(2, "big")
    bad = e[: idx + 4] + bytes(sof) + e[idx + 10 :]
    with pytest.raises(JpegFormatError, match="zero image dimension"):
        decode_jpeg(bad)


def test_lut_cache_is_bounded():
    """Per-image optimized Huffman tables must not grow executor memory
    monotonically: the LUT cache is a bounded LRU."""
    base_bits = [0] * 16
    base_bits[7] = 12  # 12 codes of length 8 — valid, cheap
    for i in range(jc._LUT_CACHE_MAX + 20):
        vals = [(i + j) % 12 for j in range(12)]
        jc._fast_lut(list(base_bits), vals)
    assert len(jc._LUT_CACHE) <= jc._LUT_CACHE_MAX


def test_frame_spans_match_materialized_frames():
    frames = [_img(i, 16, 16) for i in range(4)]
    stream = encode_mjpeg(frames, quality=80)
    spans = list(iter_jpeg_frame_spans(stream))
    assert [stream[s:e] for s, e in spans] == list(iter_jpeg_frames(stream))
    assert spans[0][0] == 0 and spans[-1][1] == len(stream)
    sampled = mjpeg_sampled_frames(stream, 2)
    assert len(sampled) == 2 and all(f[:2] == b"\xff\xd8" for f in sampled)


# --------------------------------------- multimodal per-row degradation


def _wav(tag: int, bits: int, data: bytes, ch: int = 1, rate: int = 8000) -> bytes:
    block = (bits // 8) * ch
    fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * block, block, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _chunk(kind: str, payload: bytes) -> pd.DataFrame:
    return pd.DataFrame(
        {"media_id": [0], "kind": [kind], "payload": [payload]}
    )


def test_float_wav_now_decodes_for_real():
    """IEEE-float WAV (format 3) decodes since the wav_codec extension:
    features equal audio_features on the scaled samples, not the byte
    histogram fallback."""
    from web_template_forensics_spark.functions.wav_codec import decode_wav
    from web_template_forensics_spark.operators.multimodal import audio_features

    vals = [0.1, -0.2, 0.3, -0.4]
    payload = _wav(0x0003, 32, struct.pack("<4f", *vals))
    samples, rate = decode_wav(payload)
    assert rate == 8000
    want = np.round(np.clip(np.array(vals), -1, 1) * 32767.0).astype(np.int16)
    assert (samples[:, 0] == want).all()
    out = _features_chunk(_chunk("audio", payload))
    feat, thumb = audio_features(samples)
    assert out["feat"][0] == pytest.approx(feat.astype(np.float32).tolist())
    assert out["thumb_mean"][0] == pytest.approx(thumb.astype(np.float32).tolist())


def test_wav_24_and_32bit_pcm_decode():
    from web_template_forensics_spark.functions.wav_codec import decode_wav

    want = np.array([-30000, -1, 0, 1, 30000], dtype=np.int16)
    data24 = b"".join(
        int(v << 8).to_bytes(3, "little", signed=True) for v in want.tolist()
    )
    s24, _ = decode_wav(_wav(0x0001, 24, data24))
    assert (s24[:, 0] == want).all()
    data32 = (want.astype(np.int32) << 16).astype("<i4").tobytes()
    s32, _ = decode_wav(_wav(0x0001, 32, data32))
    assert (s32[:, 0] == want).all()


def test_features_chunk_falls_back_on_adpcm_wav():
    """A genuinely unsupported compressed format (ADPCM, tag 0x0011)
    still degrades per-row to the byte histogram."""
    payload = _wav(0x0011, 4, b"\x12\x34\x56\x78")
    out = _features_chunk(_chunk("audio", payload))
    assert len(out) == 1
    feat, thumb = _byte_histogram_features(payload)
    assert out["feat"][0] == pytest.approx(feat.astype(np.float32).tolist())
    assert out["thumb_mean"][0] == pytest.approx(thumb.astype(np.float32).tolist())


def test_features_chunk_falls_back_on_truncated_mjpeg():
    bad = b"\xff\xd8" + b"\x00" * 64  # SOI prefix, garbage body
    out = _features_chunk(_chunk("video", bad))
    assert len(out) == 1
    feat, _ = _byte_histogram_features(bad)
    assert out["feat"][0] == pytest.approx(feat.astype(np.float32).tolist())


def test_features_chunk_falls_back_on_truncated_jpeg_image():
    """A sniffed-but-corrupt image payload degrades per-row to the byte
    histogram."""
    e = encode_jpeg(_img(9))
    bad = e[:-5] + e[-2:]
    out = _features_chunk(_chunk("image", bad))
    feat, thumb = _byte_histogram_features(bad)
    assert out["feat"][0] == pytest.approx(feat.astype(np.float32).tolist())
    assert out["thumb_mean"][0] == pytest.approx(thumb.tolist())


def test_thumbnails_survive_corrupt_image(spark):
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_thumbnails,
    )

    e = encode_jpeg(_img(10))
    meta = {
        "width": None,
        "height": None,
        "sample_rate": None,
        "duration_ms": None,
        "codec": "jpeg",
    }
    media = spark.createDataFrame(
        [
            (0, "image", bytearray(e), meta),
            (1, "image", bytearray(e[:-5] + e[-2:]), meta),
        ],
        MEDIA_SCHEMA,
    )
    rows = image_thumbnails(media).collect()
    assert len(rows) == 2
    by_id = {r.media_id: bytes(r.thumb) for r in rows}
    assert any(b != 0 for b in by_id[0])  # real decode
    assert all(b == 0 for b in by_id[1])  # corrupt -> zero thumb, row kept


def test_features_chunk_real_paths_unaffected():
    """Well-formed payloads still take the real-codec path (features
    differ from the byte histogram)."""
    from web_template_forensics_spark.functions.wav_codec import encode_wav

    samples = (np.random.RandomState(0).randn(512, 1) * 8000).astype(np.int16)
    wav = encode_wav(samples, 8000)
    out = _features_chunk(_chunk("audio", wav))
    hist, _ = _byte_histogram_features(wav)
    assert out["feat"][0] != pytest.approx(hist.astype(np.float32).tolist())


def test_sample_video_frames_survives_malformed_mjpeg(spark):
    """An SOI-prefixed but broken payload must yield byte-histogram rows,
    not a failed task."""
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_video_frames,
    )

    bad = b"\xff\xd8" + bytes(range(256)) * 4
    media = spark.createDataFrame(
        [
            (
                0,
                "video",
                bytearray(bad),
                {
                    "width": None,
                    "height": None,
                    "sample_rate": None,
                    "duration_ms": 3000,
                    "codec": "mjpeg",
                },
            )
        ],
        MEDIA_SCHEMA,
    )
    rows = sample_video_frames(media, every_ms=1000).collect()
    assert len(rows) == 3  # one per sampled position, all via the fallback


# ------------------------------------- round-5 second review pass vectors


def test_truncated_dri_is_typed_error():
    """FFDD with a 1-byte body used to raise struct.error (not a
    ValueError), escaping every per-row fallback."""
    bad = b"\xff\xd8" + b"\xff\xdd\x00\x03\x01" + b"\xff\xd9"
    with pytest.raises(JpegFormatError, match="truncated DRI"):
        decode_jpeg(bad)


def test_truncated_sos_is_typed_error():
    """An SOS with an empty body used to raise IndexError on ns = body[0]."""
    e = encode_jpeg(_img(11))
    idx = e.find(b"\xff\xda")
    bad = e[:idx] + b"\xff\xda\x00\x02"
    with pytest.raises(JpegFormatError, match="truncated SOS"):
        decode_jpeg(bad)


def test_sos_unknown_component_is_typed_error():
    """SOS referencing a component id absent from SOF used to raise
    StopIteration out of next()."""
    e = encode_jpeg(_img(12))
    idx = e.find(b"\xff\xda")
    bad = bytearray(e)
    bad[idx + 5] = 0x77  # first scan component id
    with pytest.raises(JpegFormatError, match="unknown component"):
        decode_jpeg(bytes(bad))


def test_incomplete_multi_scan_jpeg_rejected_not_corrupted():
    """Multi-scan baseline now DECODES (see test_jpeg_codec) — but a
    stream whose scans don't cover every frame component must still
    raise typed, not silently return a chroma-zeroed (green-shifted)
    image. Here the interleaved SOS is rewritten to claim ns=1, so only
    luma is ever coded."""
    e = encode_jpeg(_img(13))
    idx = e.find(b"\xff\xda")
    bad = bytearray(e)
    bad[idx + 4] = 1  # ns: 3 -> 1, seglen untouched
    with pytest.raises(JpegFormatError):
        decode_jpeg(bytes(bad))


def test_hostile_ac_huffman_symbol_is_typed_error():
    """An AC DHT defining a (run>0, size=0) symbol — undefined in
    baseline — must be rejected at parse (it would otherwise reach
    1 << (size - 1) with size=0 in the entropy loop)."""
    e = encode_jpeg(_img(14))
    pos = 0
    while True:
        idx = e.find(b"\xff\xc4", pos)
        assert idx >= 0, "no AC DHT found"
        seglen = int.from_bytes(e[idx + 2 : idx + 4], "big")
        body = bytearray(e[idx + 4 : idx + 2 + seglen])
        if body[0] >> 4 == 1:  # AC table
            body[17] = 0x20  # first value: run=2, size=0 — undefined
            bad = e[: idx + 4] + bytes(body) + e[idx + 2 + seglen :]
            break
        pos = idx + 2
    with pytest.raises(JpegFormatError, match="run/size symbol"):
        decode_jpeg(bad)


def test_png_truncated_at_crc_is_typed_error():
    from web_template_forensics_spark.functions.png_codec import (
        PngFormatError,
        decode_png,
        encode_png,
    )

    e = encode_png(_img(15))
    with pytest.raises(PngFormatError, match="truncated CRC"):
        decode_png(e[:-2])  # cut inside the IEND CRC


def test_png_decompression_bomb_bounded():
    """A small IHDR with a deflate stream expanding to ~10 MB must raise
    without materializing the stream (bounded decompressobj inflate)."""
    import struct as _struct
    import zlib as _zlib

    from web_template_forensics_spark.functions.png_codec import (
        PNG_SIGNATURE,
        PngFormatError,
        _chunk as png_chunk,
        decode_png,
    )

    ihdr = _struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)  # 8x8 grey
    bomb = PNG_SIGNATURE + png_chunk(b"IHDR", ihdr)
    bomb += png_chunk(b"IDAT", _zlib.compress(b"\x00" * 10_000_000))
    bomb += png_chunk(b"IEND", b"")
    with pytest.raises(PngFormatError, match="exceeds expected"):
        decode_png(bomb)


def test_codec_variant_gap_degrades_per_row_not_task_kill(monkeypatch):
    """The contract for any FUTURE codec-variant gap: a codec-level
    NotImplementedError on a recognized format surfaces as the
    ValueError-family UnsupportedVariantError, and the row degrades
    instead of killing the task. (All legal PNG variants now decode for
    real — see test_png_codec — so the trigger is injected.)"""
    from web_template_forensics_spark.operators import multimodal as mm

    def boom(_payload):
        raise NotImplementedError("injected variant gap")

    monkeypatch.setattr(mm, "decode_png", boom)
    payload = __import__(
        "web_template_forensics_spark.functions.png_codec",
        fromlist=["encode_png"],
    ).encode_png(_img(16))
    with pytest.raises(mm.UnsupportedVariantError):
        mm.decode_image(payload)
    assert issubclass(mm.UnsupportedVariantError, ValueError)
    out = mm._features_chunk(_chunk("image", payload))
    feat, _ = _byte_histogram_features(payload)
    assert out["feat"][0] == pytest.approx(feat.astype(np.float32).tolist())


def test_adam7_png_decodes_for_real_in_feature_path():
    """Interlaced PNG — the r4 verdict's canonical 'valid variant kills
    the job' example — now decodes for real: features equal the
    pixel histogram, NOT the byte-histogram fallback."""
    from tests.test_png_codec import _interlaced_raw, _manual_png

    img = _img(17, 16, 24)
    payload = _manual_png(24, 16, 8, 2, _interlaced_raw(img), interlace=1)
    out = _features_chunk(_chunk("image", payload))
    want = np.histogram(img, bins=8, range=(0, 255))[0].astype(np.float64)
    want = want / max(1.0, want.sum())
    assert out["feat"][0] == pytest.approx(want.astype(np.float32).tolist())


def test_no_codec_seam_stays_loud():
    """decode_image keeps its two failure kinds apart: an unrecognized
    format raises a bare NotImplementedError (NOT a ValueError), a
    corrupt or unsupported-variant payload a ValueError-family error
    (a CORRUPT GIF is a GifFormatError). The per-row operators degrade
    both kinds the same way (byte histogram / zero thumbnail, see
    test_unknown_format_image_row_degrades); this pins the decoder's
    own contract."""
    from web_template_forensics_spark.functions.gif_codec import GifFormatError
    from web_template_forensics_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"II*\x00" + bytes(64))  # TIFF: no codec
    with pytest.raises(GifFormatError):
        decode_image(b"GIF89a" + bytes(64))
    # lossy VP8 is VALID WebP in a variant without a dependency-free
    # codec: ValueError-family UnsupportedVariantError (per-row degrade)
    from web_template_forensics_spark.operators.multimodal import (
        UnsupportedVariantError,
    )

    with pytest.raises(UnsupportedVariantError):
        decode_image(b"RIFF\x24\x00\x00\x00WEBPVP8 " + bytes(48))


def test_unknown_format_image_row_degrades(spark):
    """A payload with no codec (TIFF magic) degrades ITS row in every
    per-row operator — byte histogram for features and frames, zero
    thumbnail — while the job completes and a real row beside it still
    decodes."""
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
        image_thumbnails,
        sample_video_frames,
    )

    tiff = b"II*\x00" + bytes(range(256))
    meta = {
        "width": None,
        "height": None,
        "sample_rate": None,
        "duration_ms": 2000,
        "codec": "tiff",
    }
    media = spark.createDataFrame(
        [
            (0, "image", bytearray(tiff), meta),
            (1, "image", bytearray(encode_jpeg(_img(11))), meta),
            (2, "video", bytearray(tiff), meta),
        ],
        MEDIA_SCHEMA,
    )
    want, zero = _byte_histogram_features(tiff)
    want = pytest.approx(want.astype(np.float32).tolist())

    feats = {r.media_id: r for r in extract_media_features(media).collect()}
    assert len(feats) == 3
    assert feats[0].feat == want and feats[0].thumb_mean == pytest.approx(zero.tolist())
    assert feats[1].feat != feats[0].feat  # the JPEG row decodes for real

    thumbs = {r.media_id: bytes(r.thumb) for r in image_thumbnails(media).collect()}
    assert thumbs[0] == bytes(8 * 8 * 3)
    assert any(thumbs[1])

    frames = sample_video_frames(media, every_ms=1000).collect()
    assert [r.position_ms for r in frames] == [0, 1000]
    assert all(r.feat == want for r in frames)


def test_sample_video_frames_null_duration_meta(spark):
    """meta struct present but duration_ms null (the exact row shape
    q_multimodal_features builds for images) used to raise TypeError."""
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_video_frames,
    )

    media = spark.createDataFrame(
        [
            (
                0,
                "video",
                bytearray(b"\x00" * 64),
                {
                    "width": None,
                    "height": None,
                    "sample_rate": None,
                    "duration_ms": None,
                    "codec": "mjpeg",
                },
            )
        ],
        MEDIA_SCHEMA,
    )
    rows = sample_video_frames(media, every_ms=1000).collect()
    assert rows == []  # null duration -> 0 positions, no crash


# ------------------------------------------- fast histogram equivalence


def test_hist8_u8_matches_np_histogram_exhaustively():
    """_hist8_u8 must equal np.histogram(bins=8, range=(0, 255)) for
    every uint8 value (the map is additive, so per-value equality over
    the whole domain proves equality on any input) plus random arrays."""
    from web_template_forensics_spark.operators.multimodal import _hist8_u8

    all_values = np.arange(256, dtype=np.uint8)
    assert np.array_equal(
        _hist8_u8(all_values),
        np.histogram(all_values, bins=8, range=(0, 255))[0],
    )
    for v in range(256):  # per-value: the additivity basis
        one = np.array([v], dtype=np.uint8)
        assert np.array_equal(
            _hist8_u8(one), np.histogram(one, bins=8, range=(0, 255))[0]
        ), f"value {v}"
    rng = np.random.RandomState(7)
    for shape in [(0,), (5,), (24, 40, 3), (1, 1, 3)]:
        arr = rng.randint(0, 256, size=shape).astype(np.uint8)
        assert np.array_equal(
            _hist8_u8(arr), np.histogram(arr, bins=8, range=(0, 255))[0]
        )


def test_hist8_pcm_matches_np_histogram_exhaustively():
    """_hist8_pcm_int must equal np.histogram(bins=8,
    range=(-32768.0, 32768.0)) over the ENTIRE in-range integer domain
    (incl. the closed top edge 32768) and drop out-of-range int32
    values exactly as np.histogram drops them."""
    from web_template_forensics_spark.operators.multimodal import _hist8_pcm_int

    domain = np.arange(-32768, 32769, dtype=np.int64)  # every in-range value
    assert np.array_equal(
        _hist8_pcm_int(domain),
        np.histogram(
            domain.astype(np.float64), bins=8, range=(-32768.0, 32768.0)
        )[0],
    )
    # per-value equality on the edges of every bin + out-of-range values
    edges = [-32769, -32768, -32767, -24577, -24576, -1, 0, 32767, 32768, 32769, 10**6, -(10**6)]
    for v in edges:
        one = np.array([v], dtype=np.int64)
        assert np.array_equal(
            _hist8_pcm_int(one),
            np.histogram(
                one.astype(np.float64), bins=8, range=(-32768.0, 32768.0)
            )[0],
        ), f"value {v}"
    rng = np.random.RandomState(11)
    for dtype, lo, hi in [
        (np.int16, -32768, 32768),
        (np.int32, -(1 << 20), 1 << 20),  # FLAC >16-bps shape incl. out-of-range
    ]:
        arr = rng.randint(lo, hi, size=(3000, 2)).astype(dtype)
        assert np.array_equal(
            _hist8_pcm_int(arr),
            np.histogram(
                arr.astype(np.float64).reshape(-1),
                bins=8,
                range=(-32768.0, 32768.0),
            )[0],
        )


def test_audio_features_unchanged_by_fast_histogram():
    """audio_features output is bitwise identical to the reference
    np.histogram formulation for int16 and int32 (FLAC) inputs."""
    from web_template_forensics_spark.operators.multimodal import audio_features

    rng = np.random.RandomState(3)
    for dtype in (np.int16, np.int32):
        samples = rng.randint(-32768, 32768, size=(4000, 2)).astype(dtype)
        feat, summ = audio_features(samples)
        flat = samples.astype(np.float64).reshape(-1)
        ref = np.histogram(flat, bins=8, range=(-32768.0, 32768.0))[0].astype(
            np.float64
        )
        ref = ref / max(1.0, ref.sum())
        assert np.array_equal(feat, ref)
