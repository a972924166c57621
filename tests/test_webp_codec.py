"""WebP-lossless codec (functions/webp_codec.py) tests — round-trips
across every decoder path (literals, LZ77, color cache, all four
transforms incl. palette bundling depths), hostile-input posture, and
the decode_image dispatch (VP8L real, lossy VP8 = variant degrade)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from web_template_forensics_spark.functions import webp_codec as wc
from web_template_forensics_spark.functions.webp_codec import (
    WebpFormatError,
    decode_webp,
    encode_webp,
    is_webp,
)


def is_webp_lossless(payload: bytes) -> bool:
    return is_webp(payload) and payload[12:16] == b"VP8L"


def _check(img: np.ndarray, **kw) -> None:
    payload = encode_webp(img, **kw)
    assert is_webp(payload) and is_webp_lossless(payload)
    out = decode_webp(payload)
    want = img
    if want.ndim == 2:
        want = np.repeat(want[:, :, None], 3, axis=2)
    if want.shape[2] == 3:
        assert (out[:, :, :3] == want).all() and (out[:, :, 3] == 255).all()
    else:
        assert (out == want).all()


def test_literal_roundtrips_rgb_rgba_grey():
    rng = np.random.RandomState(1)
    _check(rng.randint(0, 256, (21, 17, 3), dtype=np.uint8))
    _check(rng.randint(0, 256, (9, 33, 4), dtype=np.uint8))
    _check(rng.randint(0, 256, (12, 12), dtype=np.uint8))
    _check(np.full((1, 1, 3), 42, dtype=np.uint8))  # 1x1 edge


def test_lz77_runs_and_color_cache():
    img = np.zeros((20, 30, 3), np.uint8)
    img[5:15, 4:20] = (10, 200, 30)
    img[2, :] = (1, 2, 3)
    _check(img, use_lz77=True)
    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, (5, 3), np.uint8)
    img = pal[rng.randint(0, 5, (25, 25))]
    _check(img, cache_bits=4, use_lz77=False)
    _check(img, cache_bits=6, use_lz77=True)
    _check(img, cache_bits=1, use_lz77=False)  # minimum cache


@pytest.mark.parametrize("ncolors", [2, 4, 13, 40, 256])
def test_palette_transform_all_bundling_depths(ncolors):
    rng = np.random.RandomState(ncolors)
    pal = rng.randint(0, 256, (ncolors, 3), np.uint8)
    img = pal[rng.randint(0, ncolors, (17, 23))]
    _check(img, palette=True, use_lz77=False)


def test_subtract_green_predictor_color_transform():
    rng = np.random.RandomState(5)
    _check(rng.randint(0, 256, (14, 19, 3), np.uint8), subtract_green=True)
    smooth = np.clip(
        np.linspace(0, 255, 19)[None, :, None]
        + np.linspace(0, 60, 14)[:, None, None]
        + rng.randint(0, 9, (14, 19, 3)),
        0,
        255,
    ).astype(np.uint8)
    for mode in range(14):  # every predictor mode round-trips
        _check(smooth, predictor_mode=mode)
    _check(smooth, color_transform=(12, 250, 7))
    _check(smooth, predictor_mode=2, subtract_green=True)
    _check(smooth, color_transform=(3, 4, 5), subtract_green=True, cache_bits=5)


def test_fuzz_sweep():
    rng = np.random.RandomState(77)
    for _ in range(25):
        h = int(rng.randint(1, 26))
        w = int(rng.randint(1, 26))
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        _check(img, use_lz77=bool(rng.randint(2)), cache_bits=int(rng.randint(0, 8)))


def test_lossy_vp8_raises_not_implemented():
    payload = b"RIFF\x24\x00\x00\x00WEBPVP8 " + bytes(48)
    with pytest.raises(NotImplementedError, match="VP8"):
        decode_webp(payload)


def test_hostile_inputs_typed_errors():
    good = encode_webp(np.full((8, 8, 3), 7, np.uint8))
    for bad in (
        b"",
        b"RIFF",
        b"RIFF\x10\x00\x00\x00WAVE" + bytes(8),  # not WEBP
        good[:18],  # chunk header truncated
        good[:-3],  # bitstream truncated
    ):
        with pytest.raises((WebpFormatError, NotImplementedError)):
            decode_webp(bad)
    # bad VP8L signature byte
    body = bytearray(good)
    body[20] ^= 0xFF
    with pytest.raises(WebpFormatError):
        decode_webp(bytes(body))


def test_bomb_guard_rejects_dimension_flood():
    # hand-build a VP8L header claiming 2^14 x 2^14 = 256M pixels
    from web_template_forensics_spark.functions.webp_codec import _BitWriter

    bw = _BitWriter()
    bw.write((1 << 14) - 1, 14)
    bw.write((1 << 14) - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    body = b"\x2f" + bw.finish()
    payload = (
        b"RIFF"
        + struct.pack("<I", 12 + len(body))
        + b"WEBP"
        + b"VP8L"
        + struct.pack("<I", len(body))
        + body
    )
    with pytest.raises(WebpFormatError, match="bomb"):
        decode_webp(payload)


def test_decode_image_dispatch():
    from web_template_forensics_spark.operators.multimodal import (
        UnsupportedVariantError,
        decode_image,
    )

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (11, 13, 3), dtype=np.uint8)
    out = decode_image(encode_webp(img))
    np.testing.assert_array_equal(out, img)
    # animated WebP: decode_image yields the first composited frame
    from web_template_forensics_spark.functions.webp_codec import (
        encode_webp_animation,
    )

    frames = [rng.randint(0, 256, (7, 9, 3), dtype=np.uint8) for _ in range(2)]
    np.testing.assert_array_equal(
        decode_image(encode_webp_animation(frames)), frames[0]
    )
    # lossy VP8 = variant degrade; corrupt VP8X = typed format error
    with pytest.raises(UnsupportedVariantError):
        decode_image(b"RIFF\x24\x00\x00\x00WEBPVP8 " + bytes(48))
    with pytest.raises(WebpFormatError):
        decode_image(b"RIFF\x24\x00\x00\x00WEBPVP8X" + bytes(48))


# ---------------------------------------------------------------------------
# hypothesis properties
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    lz=st.booleans(),
    cb=st.integers(0, 8),
    sg=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_webp_roundtrip_property(h, w, lz, cb, sg, seed):
    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
    out = decode_webp(encode_webp(img, use_lz77=lz, cache_bits=cb, subtract_green=sg))
    assert (out[:, :, :3] == img).all() and (out[:, :, 3] == 255).all()


@settings(max_examples=50, deadline=None)
@given(junk=st.binary(min_size=0, max_size=200))
def test_webp_decode_never_returns_garbage(junk):
    """Arbitrary VP8L chunk bytes either decode or raise typed errors;
    no hangs, no unbounded allocation (bomb guard + bounded LZ77)."""
    import struct as _struct

    payload = (
        b"RIFF"
        + _struct.pack("<I", 12 + len(junk))
        + b"WEBP"
        + b"VP8L"
        + _struct.pack("<I", len(junk))
        + junk
    )
    try:
        decode_webp(payload)
    except WebpFormatError:
        pass


def test_mode13_truncates_toward_zero_like_c():
    """Round-trips cannot distinguish floor from truncation (forward and
    inverse share the formula), so pin the INVERSE directly against
    hand-computed C semantics: avg2(L,T)=10, TL=13 -> pred = 10 +
    trunc(-3/2) = 9 (floor would give 8)."""
    from web_template_forensics_spark.functions.webp_codec import _inv_predictor

    # residuals chosen so the decoded image is:
    #   p[0,0]=13, p[0,1]=10, p[1,0]=10, p[1,1]=residual 0 + pred
    res = np.zeros((4, 4), dtype=np.uint8)  # (h*w, [a,r,g,b])
    res[0] = [(13 - 255) & 0xFF, 13, 13, 13]  # first pixel pred = 255,0,0,0
    res[1] = [253, 253, 253, 253]  # (10 - 13) & 0xFF, pred = L
    res[2] = [253, 253, 253, 253]  # pred = p[y-1, 0]
    res[3] = [0, 0, 0, 0]  # pred itself is the answer
    modes = np.full((1, 1), 13, dtype=np.int64)
    _inv_predictor(res, modes, bits=4, width=2, height=2)
    assert res[3].tolist() == [9, 9, 9, 9]


def test_huffman_depth_fallback_stays_decodable():
    """A Fibonacci-like histogram drives unbounded Huffman past depth 15;
    the fallback must still emit a code the strict decoder accepts."""
    from web_template_forensics_spark.functions.webp_codec import _huffman_lengths

    fib = [1, 1]
    while len(fib) < 24:
        fib.append(fib[-1] + fib[-2])
    lengths = _huffman_lengths(fib + [0] * 232)
    assert max(lengths) <= 15
    kraft = sum(1 << (15 - ln) for ln in lengths if ln)
    assert kraft == 1 << 15  # complete — the strict decoder's condition
    # and end-to-end: an image whose green histogram is Fibonacci-ish
    # (19 terms keep the single-row width inside the 2^14 VP8L limit
    # while still driving unbounded Huffman past depth 15)
    vals = np.concatenate(
        [np.full(n, i, dtype=np.uint8) for i, n in enumerate(fib[:19])]
    )
    img = np.stack([vals, vals, vals], axis=1).reshape(1, len(vals), 3)
    out = decode_webp(encode_webp(img, use_lz77=False))
    assert (out[:, :, :3] == img).all()


def test_meta_prefix_two_group_roundtrip():
    """A REAL meta-prefix image (two groups split by block column)
    drives the decoder's per-pixel group dispatch — the last decode
    path no other encoder option reaches."""
    rng = np.random.RandomState(13)
    # statistically distinct halves so the two groups' codes differ
    img = np.empty((18, 26, 3), dtype=np.uint8)
    img[:, :13] = rng.randint(0, 8, (18, 13, 3))
    img[:, 13:] = rng.randint(200, 256, (18, 13, 3))
    _check(img, meta_split=True)
    # tiny image: one meta column per group boundary still decodes
    _check(rng.randint(0, 256, (3, 5, 3), dtype=np.uint8), meta_split=True)
    # encode_webp overrides lz77/cache under meta_split (literals-only
    # mode) rather than erroring — the override must round-trip
    _check(img, meta_split=True, cache_bits=3, use_lz77=True)


def test_animation_roundtrip_and_compositing():
    from web_template_forensics_spark.functions.webp_codec import (
        decode_webp_frames,
        encode_webp_animation,
    )

    rng = np.random.RandomState(21)
    frames = [rng.randint(0, 256, (11, 14, 3), dtype=np.uint8) for _ in range(4)]
    out = decode_webp_frames(encode_webp_animation(frames, subtract_green=True))
    assert len(out) == 4
    for o, f in zip(out, frames):
        assert (o[:, :, :3] == f).all() and (o[:, :, 3] == 255).all()
    # still VP8L passes through as a single frame
    one = decode_webp_frames(encode_webp(frames[0]))
    assert len(one) == 1 and (one[0][:, :, :3] == frames[0]).all()
    # hostile: VP8X with no frames / truncated ANMF are typed errors
    with pytest.raises((WebpFormatError, NotImplementedError)):
        decode_webp_frames(b"RIFF\x12\x00\x00\x00WEBPVP8X\x0a\x00\x00\x00" + bytes(10))


def test_meta_split_narrow_image_falls_through():
    """Images narrow enough for a single meta column (mw == 1) must not
    emit a two-group stream the decoder reads as one group — the
    encoder falls through to the single-group path and still
    round-trips (the pre-fix behavior decoded WITHOUT error to wrong
    pixels)."""
    rng = np.random.RandomState(31)
    for w in (1, 2, 3, 4):
        img = rng.randint(0, 256, (6, w, 3), dtype=np.uint8)
        _check(img, meta_split=True)


def test_animation_alpha_blend_spec_semantics():
    """Blend-mode frame over a TRANSPARENT canvas must yield the
    frame's own colors (the canvas term is weighted by canvas alpha),
    and the cumulative composited-pixel bomb guard fires on a frame
    flood."""
    import struct as _struct

    from web_template_forensics_spark.functions.webp_codec import (
        _chunk,
        _riff,
        _vp8l_body,
        decode_webp_frames,
    )

    # hand-build: canvas 4x4, one BLEND-mode frame (flags byte 0x00)
    # with a semi-transparent uniform color
    rgba = np.zeros((4, 4, 4), dtype=np.uint8)
    rgba[:, :] = (200, 100, 50, 128)
    body = _chunk(b"VP8L", _vp8l_body(rgba))
    anmf = (
        (0).to_bytes(3, "little") * 2
        + (3).to_bytes(3, "little")
        + (3).to_bytes(3, "little")
        + (100).to_bytes(3, "little")
        + bytes([0x00])  # BLEND, dispose-none
        + body
    )
    payload = _riff(
        _chunk(
            b"VP8X",
            bytes([0x02, 0, 0, 0]) + (3).to_bytes(3, "little") * 2,
        )
        + _chunk(b"ANIM", bytes(6))
        + _chunk(b"ANMF", anmf)
    )
    (frame,) = decode_webp_frames(payload)
    assert (frame[:, :, :3] == (200, 100, 50)).all()  # not half-black
    assert (frame[:, :, 3] == 128).all()
    # bomb guard: huge canvas + many tiny frames
    huge = _chunk(
        b"VP8X",
        bytes([0x02, 0, 0, 0])
        + (8191).to_bytes(3, "little")
        + (8191).to_bytes(3, "little"),
    ) + _chunk(b"ANIM", bytes(6))
    tiny_rgba = np.zeros((1, 1, 4), dtype=np.uint8)
    tiny = _chunk(b"VP8L", _vp8l_body(tiny_rgba))
    one = _chunk(
        b"ANMF",
        (0).to_bytes(3, "little") * 2
        + (0).to_bytes(3, "little") * 2
        + (1).to_bytes(3, "little")
        + bytes([0x02])
        + tiny,
    )
    with pytest.raises(WebpFormatError, match="bomb"):
        decode_webp_frames(_riff(huge + one * 4))


def test_two_symbol_green_with_length_code_uses_normal_form():
    """A constant image with LZ77 runs yields a 2-symbol green alphabet
    {literal, length-code >= 256}; the simple-form header only carries
    8-bit symbols, so this must take the normal form (the pre-fix
    encoder emitted a truncated 8-bit symbol and the stream failed to
    decode)."""
    img = np.full((4, 4, 4), (200, 100, 50, 128), dtype=np.uint8)
    _check(img, use_lz77=True)
    _check(np.full((30, 50, 3), 7, dtype=np.uint8), use_lz77=True)


def _lz77_value(code: int, br) -> int:
    """Length/distance prefix value: code -> value (spec 'LZ77 prefix
    coding')."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_argb_image_ref(
    br, width: int, height: int, allow_meta: bool
) -> np.ndarray:
    """Reference twin of ``webp_codec._decode_argb_image``: the readable
    per-pixel form of the same decode, for the bitwise parity pin below."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise WebpFormatError(f"invalid color cache bits {cache_bits}")
    meta_codes = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        meta_bits = br.read(3) + 2
        mw = wc._subsample_size(width, meta_bits)
        mh = wc._subsample_size(height, meta_bits)
        meta_img = _decode_argb_image_ref(br, mw, mh, allow_meta=False)
        # meta prefix ids live in (red << 8 | green)
        meta_codes = (
            meta_img[:, 1].astype(np.int64) << 8 | meta_img[:, 2].astype(np.int64)
        ).reshape(mh, mw)
        n_groups = int(meta_codes.max()) + 1
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                wc._read_prefix_code(br, green_size),
                wc._read_prefix_code(br, 256),  # red
                wc._read_prefix_code(br, 256),  # blue
                wc._read_prefix_code(br, 256),  # alpha
                wc._read_prefix_code(br, 40),  # distance
            )
        )
    cache = [0] * (1 << cache_bits) if cache_bits else None
    out = np.zeros((height * width, 4), dtype=np.uint8)  # a, r, g, b
    pos = 0
    total = height * width
    g_green, g_red, g_blue, g_alpha, g_dist = groups[0]
    while pos < total:
        if meta_codes is not None:
            x = pos % width
            y = pos // width
            gid = int(meta_codes[y >> meta_bits, x >> meta_bits])
            if gid >= n_groups:
                raise WebpFormatError("meta prefix id out of range")
            g_green, g_red, g_blue, g_alpha, g_dist = groups[gid]
        sym = g_green.decode(br)
        if sym < 256:  # literal
            r = g_red.decode(br)
            b = g_blue.decode(br)
            a = g_alpha.decode(br)
            out[pos, 0] = a
            out[pos, 1] = r
            out[pos, 2] = sym
            out[pos, 3] = b
            if cache is not None:
                argb = (a << 24) | (r << 16) | (sym << 8) | b
                cache[((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
            pos += 1
        elif sym < 280:  # backward reference
            length = _lz77_value(sym - 256, br)
            dist_code = _lz77_value(g_dist.decode(br), br)
            dist = wc._plane_distance(dist_code, width)
            if dist > pos or pos + length > total:
                raise WebpFormatError("LZ77 reference out of bounds")
            for k in range(length):
                out[pos + k] = out[pos + k - dist]
                if cache is not None:
                    a, r, g, b = out[pos + k]
                    argb = (int(a) << 24) | (int(r) << 16) | (int(g) << 8) | int(b)
                    cache[((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
            pos += length
        else:  # color cache hit
            if cache is None:
                raise WebpFormatError("cache symbol without color cache")
            idx = sym - 280
            if idx >= len(cache):
                raise WebpFormatError("color cache index out of range")
            argb = cache[idx]
            out[pos, 0] = (argb >> 24) & 0xFF
            out[pos, 1] = (argb >> 16) & 0xFF
            out[pos, 2] = (argb >> 8) & 0xFF
            out[pos, 3] = argb & 0xFF
            pos += 1
    return out


def test_fast_argb_decode_matches_reference_bitwise(monkeypatch):
    """r7: _decode_argb_image inlines the bit reader and packs pixels as
    ints; pin it bitwise against _decode_argb_image_ref at EVERY internal
    call site (main image, entropy images, palettes, meta images,
    animation frames) by pairing the two on cloned readers mid-stream."""
    from web_template_forensics_spark.functions.webp_codec import (
        decode_webp_frames,
        encode_webp_animation,
    )

    fast = wc._decode_argb_image
    calls = {"n": 0}

    def paired(br, w, h, allow_meta):
        clone = wc._BitReader.__new__(wc._BitReader)
        clone.w32, clone.pos, clone.n = br.w32, br.pos, br.n
        # ref runs UNPATCHED (self-recursive) so each outer call compares
        # whole subtrees; fast recursion is itself re-paired per call
        ref_out = _decode_argb_image_ref(clone, w, h, allow_meta)
        out = fast(br, w, h, allow_meta)
        assert out.dtype == ref_out.dtype and out.shape == ref_out.shape
        assert (out == ref_out).all()
        assert br.pos == clone.pos and br.n == clone.n
        calls["n"] += 1
        return out

    monkeypatch.setattr(wc, "_decode_argb_image", paired)

    rng = np.random.RandomState(77)
    payloads = []
    noise = rng.randint(0, 256, (21, 29, 3), dtype=np.uint8)
    flat = np.zeros((16, 24, 3), np.uint8)
    flat[4:12, 3:20] = (9, 180, 40)
    pal = rng.randint(0, 256, (7, 3), np.uint8)
    indexed = pal[rng.randint(0, 7, (18, 22))]
    rgba = rng.randint(0, 256, (11, 13, 4), dtype=np.uint8)
    payloads.append(encode_webp(noise))
    payloads.append(encode_webp(noise, subtract_green=True, cache_bits=6))
    payloads.append(encode_webp(flat, use_lz77=True, cache_bits=4))
    payloads.append(encode_webp(flat, use_lz77=True, cache_bits=0))
    payloads.append(encode_webp(indexed))
    payloads.append(encode_webp(rgba, cache_bits=11))
    payloads.append(encode_webp(rgba, cache_bits=1))
    meta_img = np.empty((18, 26, 3), dtype=np.uint8)
    meta_img[:, :13] = rng.randint(0, 8, (18, 13, 3))
    meta_img[:, 13:] = rng.randint(200, 256, (18, 13, 3))
    payloads.append(encode_webp(meta_img, meta_split=True))  # meta branch
    smooth = np.clip(
        np.linspace(0, 255, 19)[None, :, None]
        + np.linspace(0, 60, 14)[:, None, None]
        + rng.randint(0, 9, (14, 19, 3)),
        0,
        255,
    ).astype(np.uint8)
    payloads.append(encode_webp(smooth, predictor_mode=11))  # predictor image
    payloads.append(encode_webp(smooth, color_transform=(12, 250, 7)))
    for pl in payloads:
        decode_webp(pl)
    frames = [rng.randint(0, 256, (10, 12, 3), dtype=np.uint8) for _ in range(3)]
    decode_webp_frames(encode_webp_animation(frames))
    assert calls["n"] >= len(payloads) + 3  # palettes/meta add more
