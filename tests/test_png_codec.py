"""Round-trip + robustness tests for the dependency-free PNG codec
(functions/png_codec.py) and its integration into decode_image /
the mapInPandas media operators — the round-5 close of the last honest
multimodal stub."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from web_template_forensics_spark.functions.png_codec import (
    PNG_SIGNATURE,
    PngFormatError,
    _chunk,
    decode_png,
    encode_png,
)
from web_template_forensics_spark.operators.multimodal import decode_image


def _rand_img(h, w, c, seed):
    rng = np.random.RandomState(seed)
    shape = (h, w) if c == 1 else (h, w, c)
    return rng.randint(0, 256, size=shape, dtype=np.uint8)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_exact_all_filters_all_channels(filter_type, channels):
    img = _rand_img(23, 17, channels, seed=filter_type * 10 + channels)
    out = decode_png(encode_png(img, filter_type=filter_type))
    want = img if channels > 1 else img  # grey decodes back to (h, w)
    assert out.dtype == np.uint8
    assert out.shape == want.shape
    assert (out == want).all()


def test_roundtrip_gradient_and_flat():
    # gradients exercise Sub/Average/Paeth predictions meaningfully
    # (random data makes every filter behave like None + noise)
    y, x = np.mgrid[0:64, 0:48]
    img = np.stack([(y * 3) % 256, (x * 5) % 256, (y + x) % 256], axis=2).astype(np.uint8)
    for ft in range(5):
        assert (decode_png(encode_png(img, filter_type=ft)) == img).all()
    flat = np.full((8, 8, 3), 200, dtype=np.uint8)
    assert (decode_png(encode_png(flat, filter_type=4)) == flat).all()


def test_single_pixel_and_single_row():
    one = np.array([[[1, 2, 3]]], dtype=np.uint8)
    assert (decode_png(encode_png(one, filter_type=4)) == one).all()
    row = _rand_img(1, 40, 3, seed=9)
    col = _rand_img(40, 1, 3, seed=10)
    for ft in range(5):
        assert (decode_png(encode_png(row, filter_type=ft)) == row).all()
        assert (decode_png(encode_png(col, filter_type=ft)) == col).all()


def test_palette_image_decodes_to_rgb():
    """Hand-built colour-type-3 PNG: 4x2 indices into a 3-colour PLTE."""
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1, 2, 1], [2, 2, 0, 0]], dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + r.tobytes() for r in idx)
    png = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", palette.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    out = decode_png(png)
    assert out.shape == (2, 4, 3)
    assert (out == palette[idx]).all()


def test_multi_idat_chunks():
    img = _rand_img(16, 16, 3, seed=3)
    png = encode_png(img, filter_type=2)
    # split the single IDAT into two chunks
    sig_ihdr = png[: 8 + 25]  # signature + IHDR chunk (12 + 13 bytes)
    idat_len = struct.unpack(">I", png[33:37])[0]
    idat_body = png[41 : 41 + idat_len]
    half = len(idat_body) // 2
    rebuilt = (
        sig_ihdr
        + _chunk(b"IDAT", idat_body[:half])
        + _chunk(b"IDAT", idat_body[half:])
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(rebuilt) == img).all()


def test_corruption_fails_loudly():
    img = _rand_img(8, 8, 3, seed=1)
    png = bytearray(encode_png(img))
    with pytest.raises(PngFormatError, match="signature"):
        decode_png(b"NOTAPNG" + bytes(png))
    flipped = bytearray(png)
    flipped[50] ^= 0xFF  # inside IDAT body -> CRC mismatch
    with pytest.raises(PngFormatError, match="CRC|truncated"):
        decode_png(bytes(flipped))
    with pytest.raises(PngFormatError, match="truncated|IEND"):
        decode_png(bytes(png[:-20]))


# Adam7 pass grid, hardcoded from the PNG spec as an INDEPENDENT oracle
# (not imported from the module under test)
_ADAM7_SPEC = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _manual_png(w, h, depth, colour, raw, palette=None, interlace=0):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, colour, 0, 0, interlace)
    png = PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
    if palette is not None:
        png += _chunk(b"PLTE", palette.tobytes())
    return png + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def _row_bytes(sub: np.ndarray, depth: int) -> list[bytes]:
    """(ph, pw[, ch]) sample array -> per-scanline raw bytes at depth."""
    ph = sub.shape[0]
    flat = sub.reshape(ph, -1)  # (ph, pw*ch) samples
    if depth == 8:
        return [flat[y].astype(np.uint8).tobytes() for y in range(ph)]
    if depth == 16:
        return [(flat[y].astype(np.uint16) * 257).astype(">u2").tobytes() for y in range(ph)]
    # 1/2/4: pack MSB-first
    out = []
    per_byte = 8 // depth
    for y in range(ph):
        vals = flat[y]
        pad = (-len(vals)) % per_byte
        v = np.concatenate([vals, np.zeros(pad, dtype=vals.dtype)])
        byts = np.zeros(len(v) // per_byte, dtype=np.uint8)
        for j in range(per_byte):
            byts |= (v[j::per_byte].astype(np.uint8) << (8 - depth * (j + 1)))
        out.append(byts.tobytes())
    return out


def _interlaced_raw(img: np.ndarray, depth: int = 8) -> bytes:
    """Reference Adam7 interlacer (filter 0 rows) built from the spec grid."""
    raw = b""
    for x0, y0, dx, dy in _ADAM7_SPEC:
        sub = img[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for rb in _row_bytes(sub, depth):
            raw += b"\x00" + rb
    return raw


@pytest.mark.parametrize("shape", [(1, 1), (3, 5), (8, 8), (13, 7), (16, 17)])
def test_adam7_interlaced_rgb_decodes_exactly(shape):
    h, w = shape
    img = _rand_img(h, w, 3, seed=h * 31 + w)
    png = _manual_png(w, h, 8, 2, _interlaced_raw(img), interlace=1)
    assert (decode_png(png) == img).all()


def test_adam7_interlaced_grey_and_rgba():
    grey = _rand_img(9, 11, 1, seed=21)
    png = _manual_png(11, 9, 8, 0, _interlaced_raw(grey), interlace=1)
    assert (decode_png(png) == grey).all()
    rgba = _rand_img(10, 6, 4, seed=22)
    png = _manual_png(6, 10, 8, 6, _interlaced_raw(rgba), interlace=1)
    assert (decode_png(png) == rgba).all()


@pytest.mark.parametrize("colour,ch", [(0, 1), (2, 3), (4, 2), (6, 4)])
def test_16bit_decodes_high_byte(colour, ch):
    img = _rand_img(7, 5, ch, seed=colour + 40)
    raw = b"".join(b"\x00" + rb for rb in _row_bytes(img, 16))
    png = _manual_png(5, 7, 16, colour, raw)
    assert (decode_png(png) == img).all()  # v*257 >> 8 == v, exact


def test_16bit_interlaced_roundtrip():
    img = _rand_img(13, 9, 3, seed=50)
    png = _manual_png(9, 13, 16, 2, _interlaced_raw(img, depth=16), interlace=1)
    assert (decode_png(png) == img).all()


def test_16bit_sub_filter_uses_2byte_lanes():
    """Filter Sub at depth 16 predicts from bpp=6 bytes back (RGB) — a
    gradient makes a wrong-bpp implementation visibly wrong."""
    from web_template_forensics_spark.functions.png_codec import _filter_rows

    y, x = np.mgrid[0:12, 0:10]
    img = np.stack([(y * 7) % 256, (x * 11) % 256, (y * x) % 256], axis=2).astype(np.uint8)
    u16 = (img.astype(np.uint16) * 257).astype(">u2")
    img2d = np.frombuffer(u16.tobytes(), dtype=np.uint8).reshape(12, 10 * 3 * 2)
    raw = _filter_rows(img2d, bpp=6, filter_type=1)
    png = _manual_png(10, 12, 16, 2, raw)
    assert (decode_png(png) == img).all()


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_low_depth_grey_scales_to_full_range(depth):
    maxv = (1 << depth) - 1
    rng = np.random.RandomState(depth)
    img = rng.randint(0, maxv + 1, size=(6, 11), dtype=np.uint8)
    raw = b"".join(b"\x00" + rb for rb in _row_bytes(img, depth))
    png = _manual_png(11, 6, depth, 0, raw)
    want = (img.astype(np.uint16) * 255 // maxv).astype(np.uint8)
    assert (decode_png(png) == want).all()


def test_low_depth_palette_expands():
    palette = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], dtype=np.uint8
    )
    idx = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 2], [1, 1, 3, 0, 2]], dtype=np.uint8)
    raw = b"".join(b"\x00" + rb for rb in _row_bytes(idx, 2))
    png = _manual_png(5, 3, 2, 3, raw, palette=palette)
    assert (decode_png(png) == palette[idx]).all()


def test_low_depth_interlaced_palette():
    palette = np.array([[i, 255 - i, i // 2] for i in range(16)], dtype=np.uint8)
    rng = np.random.RandomState(77)
    idx = rng.randint(0, 16, size=(9, 10), dtype=np.uint8)
    png = _manual_png(10, 9, 4, 3, _interlaced_raw(idx, depth=4), palette=palette, interlace=1)
    assert (decode_png(png) == palette[idx]).all()


def test_illegal_depth_colour_combo_is_typed_error():
    # depth 4 with RGB (colour 2) is illegal per spec
    with pytest.raises(PngFormatError, match="illegal bit depth"):
        decode_png(_manual_png(2, 2, 4, 2, b"\x00\x00\x00" * 2))
    with pytest.raises(PngFormatError, match="invalid interlace"):
        decode_png(_manual_png(2, 2, 8, 2, b"\x00" * 14, interlace=2))


def test_dimension_bomb_guard_fires_at_parse_time():
    # attacker-declared IHDR dimensions (20000x20000 RGB = 400M px) must
    # be rejected BEFORE any inflate: a ~MB zlib stream amplifies ~1000:1
    # into GB-scale arrays otherwise (r5 ADVICE). Raw body content is
    # irrelevant — the guard fires at IHDR parse.
    with pytest.raises(PngFormatError, match="bomb guard"):
        decode_png(_manual_png(20000, 20000, 8, 2, b"\x00" * 64))
    # exactly at the 2^26 cap is allowed through the guard (fails later
    # on size mismatch, proving the guard itself didn't fire)
    with pytest.raises(PngFormatError, match="decompressed size"):
        decode_png(_manual_png(8192, 8192, 8, 2, b"\x00" * 64))


def test_decode_image_real_png_path():
    """decode_image really decodes PNG payloads."""
    rgb = _rand_img(12, 9, 3, seed=5)
    assert (decode_image(encode_png(rgb)) == rgb).all()
    grey = _rand_img(6, 7, 1, seed=6)
    out = decode_image(encode_png(grey))
    assert out.shape == (6, 7, 3)
    assert (out[:, :, 0] == grey).all() and (out[:, :, 1] == grey).all()
    rgba = _rand_img(5, 5, 4, seed=7)
    out = decode_image(encode_png(rgba))
    assert (out == rgba[:, :, :3]).all()
    # JPEG payloads now route to the real jpeg_codec (corrupt body ->
    # format error, not NotImplementedError); WebP is recognized since
    # late r5 (VP8L real, chunkless header = ValueError-family variant/
    # corrupt); genuinely codec-less formats (TIFF) raise NotImplementedError
    from web_template_forensics_spark.functions.jpeg_codec import JpegFormatError
    from web_template_forensics_spark.operators.multimodal import (
        UnsupportedVariantError,
    )

    with pytest.raises(JpegFormatError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg bytes")
    with pytest.raises(UnsupportedVariantError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBP")
    with pytest.raises(NotImplementedError, match="beyond PNG/JPEG"):
        decode_image(b"II*\x00" + bytes(8))


def test_media_features_real_png_on_cluster(spark):
    """End-to-end through the byte-bounded mapInPandas operator with
    REAL PNG payloads: the histogram features must
    equal the driver-side numpy computation on the same pixels."""
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
        image_thumbnails,
        resize_image,
    )

    imgs = [_rand_img(16 + i, 12 + i, 3, seed=100 + i) for i in range(6)]
    rows = [
        (
            i,
            "image",
            encode_png(img, filter_type=i % 5),
            {"width": img.shape[1], "height": img.shape[0], "sample_rate": None,
             "duration_ms": None, "codec": "png"},
        )
        for i, img in enumerate(imgs)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = (
        extract_media_features(media)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )
    assert len(feats) == len(imgs)
    for i, img in enumerate(imgs):
        want = np.histogram(img, bins=8, range=(0, 255))[0].astype(np.float64)
        want = want / max(1.0, want.sum())
        np.testing.assert_allclose(
            np.array(feats.loc[i, "feat"]), want.astype(np.float32), rtol=1e-6
        )

    thumbs = (
        image_thumbnails(media, out_h=4, out_w=4)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )
    for i, img in enumerate(imgs):
        want = resize_image(img, 4, 4)
        got = np.frombuffer(thumbs.loc[i, "thumb"], dtype=np.uint8).reshape(4, 4, 3)
        assert (got == want).all()


# ---------------------------------------------------------------------------
# Adam7 ENCODER (encode_png(interlace=True)) — the decoder tests above
# construct interlaced bytes independently; these pin the encoder's own
# pass ordering / empty-pass skip against both faces.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "shape", [(1, 1), (1, 8), (8, 1), (2, 2), (3, 5), (7, 7), (13, 21), (16, 17)]
)
@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_encode_interlaced_roundtrips(shape, ch):
    """Every pass subset (several are EMPTY at the small sizes) encodes
    and decodes back to the exact pixels, for every channel count."""
    h, w = shape
    img = _rand_img(h, w, ch, seed=h * 131 + w * 7 + ch)
    out = decode_png(encode_png(img, filter_type=4, interlace=True))
    assert out.shape == img.shape and (out == img).all()


def test_encode_interlaced_matches_spec_interlacer():
    """At filter 0 the encoder's IDAT must equal the INDEPENDENT
    spec-grid interlacer byte-for-byte — pins pass order and the
    skip-empty-pass rule, not just round-trip consistency."""
    for h, w, ch, colour in [(13, 21, 3, 2), (1, 5, 1, 0), (6, 1, 4, 6), (3, 3, 2, 4)]:
        img = _rand_img(h, w, ch, seed=h + w + ch)
        got = encode_png(img, filter_type=0, interlace=True)
        want = _manual_png(w, h, 8, colour, _interlaced_raw(img), interlace=1)
        assert zlib.decompress(_idat_body(got)) == zlib.decompress(_idat_body(want))
        assert (decode_png(got) == img).all()


def _idat_body(png: bytes) -> bytes:
    """Concatenated IDAT chunk payloads of a PNG byte string."""
    pos, out = len(PNG_SIGNATURE), b""
    while pos + 8 <= len(png):
        (ln,) = struct.unpack(">I", png[pos : pos + 4])
        ctype = png[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            out += png[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    return out


# ---------------------------------------------------------------------------
# hypothesis properties
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 13),
    w=st.integers(1, 13),
    c=st.sampled_from([1, 2, 3, 4]),
    ft=st.integers(0, 4),
    inter=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(h, w, c, ft, inter, seed):
    img = _rand_img(h, w, c, seed)
    out = decode_png(encode_png(img, filter_type=ft, interlace=inter))
    assert out.shape == img.shape and (out == img).all()


@settings(max_examples=60, deadline=None)
@given(junk=st.binary(min_size=0, max_size=200))
def test_png_decode_never_returns_garbage(junk):
    """Arbitrary bytes after the signature either decode (CRC + size +
    inflate all happen to check out — effectively impossible) or raise a
    typed error; no hangs, no silent wrong-shaped output."""
    try:
        decode_png(PNG_SIGNATURE + junk)
    except (PngFormatError, NotImplementedError):
        pass
