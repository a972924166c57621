"""Dependency-free WebP-LOSSLESS (VP8L) codec — stdlib + numpy only.

Decoder covers the full VP8L bitstream (public spec: "WebP Lossless
Bitstream Specification", RFC 9649): canonical prefix codes (simple and
normal forms, incl. the 16/17/18 repeat machinery and the max_symbol
field), LZ77 backward references with the 120-entry 2D distance map,
color cache, meta-prefix images, and all four transforms applied in
inverse order — PREDICTOR (all 14 modes), COLOR (cross-channel delta),
SUBTRACT-GREEN, and COLOR-INDEXING (palette, incl. sub-byte pixel
bundling for palettes <= 16). Lossy VP8 and extended VP8X payloads are
NOT in scope (they need a full video-intra codec) and surface as
``UnsupportedVariantError``-style ValueErrors at the decode_image seam.

Matching encoder emits a fully valid subset — real canonical Huffman
codes over the literal histograms, optional distance-1-run LZ77,
optional color cache, and optional transforms (palette with bundling,
subtract-green, constant-mode predictor, constant color transform) —
one option per decoder path, so every path above is round-trip
testable with zero third-party bytes while the decoder stays general.

Hostile-input posture mirrors png_codec/gif_codec: typed
``WebpFormatError`` (a ValueError), pixel output bounded by the
declared dimensions, dimension bomb guard before allocation.

Determinism contract: decode is exact (lossless format), so executor
and driver faces are bit-identical by construction.
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

_MAX_PIXELS = 1 << 26


class WebpFormatError(ValueError):
    """Structurally invalid / truncated / hostile WebP payload."""


def is_webp(payload: bytes) -> bool:
    return payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"


def is_webp_lossless(payload: bytes) -> bool:
    return is_webp(payload) and payload[12:16] == b"VP8L"


# ------------------------------------------------------------- bit I/O


class _BitReader:
    """LSB-first bit reader over bytes, with a 32-bit sliding window
    (precomputed per byte offset) so reads and prefix-code peeks are a
    single index + shift instead of a per-bit loop — the same LUT-decode
    discipline as jpeg_codec's 16-bit-peek entropy decoder."""

    __slots__ = ("w32", "pos", "n")

    def __init__(self, data: bytes):
        buf = np.frombuffer(bytes(data) + b"\x00\x00\x00\x00", dtype=np.uint8)
        self.w32 = (
            buf[:-3].astype(np.uint32)
            | buf[1:-2].astype(np.uint32) << np.uint32(8)
            | buf[2:-1].astype(np.uint32) << np.uint32(16)
            | buf[3:].astype(np.uint32) << np.uint32(24)
        ).tolist()  # python ints: faster scalar indexing than np.uint32
        self.pos = 0  # bit position
        self.n = len(data) * 8

    def read(self, nbits: int) -> int:
        """nbits <= 25 (the widest field in the format is 14)."""
        if nbits == 0:
            return 0
        p = self.pos
        if p + nbits > self.n:
            raise WebpFormatError("bitstream truncated")
        self.pos = p + nbits
        return (self.w32[p >> 3] >> (p & 7)) & ((1 << nbits) - 1)

    def peek(self, nbits: int) -> int:
        """Zero-padded lookahead (no bounds error) for LUT decode."""
        p = self.pos
        idx = p >> 3
        if idx >= len(self.w32):
            return 0
        return (self.w32[idx] >> (p & 7)) & ((1 << nbits) - 1)


class _BitWriter:
    __slots__ = ("bytes", "acc", "nbits")

    def __init__(self):
        self.bytes = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.nbits
        self.nbits += nbits
        while self.nbits >= 8:
            self.bytes.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.bytes.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.bytes)


# ------------------------------------------------- canonical prefix codes

_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


class _PrefixCode:
    """Canonical prefix code decoder via a full-width peek LUT:
    lut[next max_len stream bits] = (symbol << 4) | code_length, so a
    decode is one window peek + one list index (codes are MSB-first, the
    stream is LSB-first, hence the bit-reversed fill)."""

    __slots__ = ("lut", "max_len", "single")

    def __init__(self, lengths: list[int]):
        self.single = None
        counts: dict[int, int] = {}
        for ln in lengths:
            if ln:
                counts[ln] = counts.get(ln, 0) + 1
        if not counts:
            raise WebpFormatError("empty prefix code")
        if sum(counts.values()) == 1:
            self.single = lengths.index(max(lengths))
            self.lut = []
            self.max_len = 0
            return
        # completeness (Kraft equality) — required for a well-formed code
        kraft = sum(c << (15 - ln) for ln, c in counts.items())
        if kraft != (1 << 15):
            raise WebpFormatError("prefix code not complete")
        self.max_len = max_len = max(counts)
        code = 0
        next_code = {}
        for ln in range(1, max_len + 1):
            code = (code + counts.get(ln - 1, 0)) << 1
            next_code[ln] = code
        lut = np.zeros(1 << max_len, dtype=np.int32)
        for sym, ln in enumerate(lengths):
            if not ln:
                continue
            c = next_code[ln]
            next_code[ln] += 1
            rev = 0
            for b in range(ln):
                rev |= ((c >> b) & 1) << (ln - 1 - b)
            lut[rev :: 1 << ln] = (sym << 4) | ln
        self.lut = lut.tolist()

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        e = self.lut[br.peek(self.max_len)]
        ln = e & 15
        p = br.pos
        if p + ln > br.n:
            raise WebpFormatError("bitstream truncated")
        br.pos = p + ln
        return e >> 4


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    """Spec 'prefix code' — simple (1-2 symbols) or normal form."""
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        first_bits = 8 if br.read(1) else 1
        lengths = [0] * alphabet_size
        s0 = br.read(first_bits)
        if s0 >= alphabet_size:
            raise WebpFormatError("simple-code symbol out of range")
        if num_symbols == 1:
            lengths[s0] = 1  # single-symbol: zero bits read at decode
        else:
            s1 = br.read(8)
            if s1 >= alphabet_size or s1 == s0:
                raise WebpFormatError("simple-code symbol invalid")
            lengths[s0] = 1
            lengths[s1] = 1
        return _PrefixCode(lengths)
    # normal: code-length code first
    num_codes = br.read(4) + 4
    if num_codes > 19:
        raise WebpFormatError("too many code-length codes")
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(cl_lengths)
    # optional max_symbol
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        sym = cl_code.decode(br)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev_len = sym
        elif sym == 16:
            rep = 3 + br.read(2)
            if i + rep > alphabet_size:
                raise WebpFormatError("code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[i] = prev_len
                i += 1
        elif sym == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
        if i > alphabet_size:
            raise WebpFormatError("code-length zero-run overruns alphabet")
    return _PrefixCode(lengths)


# -------------------------------------------------------- LZ77 plumbing


# normative table (spec section 'Decoding the distance'): the fixed
# 120-entry (dx, dy) neighbor map for distance codes 1..120
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


def _plane_distance(dist_code: int, width: int) -> int:
    """Distance code -> linear distance (1-based) over the ARGB plane."""
    if dist_code > 120:
        return dist_code - 120
    dx, dy = _DIST_MAP[dist_code - 1]
    d = dy * width + dx
    return d if d >= 1 else 1


# ------------------------------------------------------ entropy image


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_argb_image(
    br: _BitReader, width: int, height: int, allow_meta: bool
) -> np.ndarray:
    """Spatially-coded ARGB image -> (height*width, 4) uint8 [a, r, g, b].
    Implements color cache, meta prefix codes (when ``allow_meta``) and
    LZ77 — the shared machinery for the main image, entropy images and
    palettes. Bitwise-identical to the readable per-pixel reference twin
    in tests/test_webp_codec.py (same bitstream, same errors): the
    per-pixel prefix decodes are inlined over the reader's 32-bit
    window (one list index + shift per symbol instead of two method calls),
    pixels accumulate as packed ARGB ints in a plain list (numpy scalar
    stores were ~40% of the loop), and LZ77 copies run chunk-wise with the
    cache folded in afterwards — legal because nothing reads the cache
    mid-copy, so only the final slot values matter and those are the last
    writer's in both forms."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise WebpFormatError(f"invalid color cache bits {cache_bits}")
    meta_rows = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        meta_bits = br.read(3) + 2
        mw = _subsample_size(width, meta_bits)
        mh = _subsample_size(height, meta_bits)
        meta_img = _decode_argb_image(br, mw, mh, allow_meta=False)
        # meta prefix ids live in (red << 8 | green)
        meta_rows = (
            (meta_img[:, 1].astype(np.int64) << 8 | meta_img[:, 2].astype(np.int64))
            .reshape(mh, mw)
            .tolist()
        )
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups if meta_rows is None else max(r for row in meta_rows for r in row) + 1):
        codes = (
            _read_prefix_code(br, green_size),
            _read_prefix_code(br, 256),  # red
            _read_prefix_code(br, 256),  # blue
            _read_prefix_code(br, 256),  # alpha
            _read_prefix_code(br, 40),  # distance
        )
        # inline decode spec per code: (lut, mask, single)
        groups.append(
            tuple(
                (c.lut, (1 << c.max_len) - 1, c.single) for c in codes
            )
        )
    n_groups = len(groups)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cshift = 32 - cache_bits if cache_bits else 0
    total = height * width
    data = [0] * total  # packed (a<<24|r<<16|g<<8|b) ints
    pos = 0
    w32 = br.w32
    nw = len(w32)
    p = br.pos
    n = br.n
    (g_lut, g_mask, g_single), (r_lut, r_mask, r_single), (
        b_lut,
        b_mask,
        b_single,
    ), (a_lut, a_mask, a_single), (d_lut, d_mask, d_single) = groups[0]
    gid = 0
    while pos < total:
        if meta_rows is not None:
            mg = meta_rows[(pos // width) >> meta_bits][(pos % width) >> meta_bits]
            if mg >= n_groups:
                raise WebpFormatError("meta prefix id out of range")
            if mg != gid:
                gid = mg
                (g_lut, g_mask, g_single), (r_lut, r_mask, r_single), (
                    b_lut,
                    b_mask,
                    b_single,
                ), (a_lut, a_mask, a_single), (d_lut, d_mask, d_single) = groups[mg]
        if g_single is not None:
            sym = g_single
        else:
            i = p >> 3
            e = g_lut[((w32[i] if i < nw else 0) >> (p & 7)) & g_mask]
            ln = e & 15
            if p + ln > n:
                raise WebpFormatError("bitstream truncated")
            p += ln
            sym = e >> 4
        if sym < 256:  # literal
            if r_single is not None:
                r = r_single
            else:
                i = p >> 3
                e = r_lut[((w32[i] if i < nw else 0) >> (p & 7)) & r_mask]
                ln = e & 15
                if p + ln > n:
                    raise WebpFormatError("bitstream truncated")
                p += ln
                r = e >> 4
            if b_single is not None:
                b = b_single
            else:
                i = p >> 3
                e = b_lut[((w32[i] if i < nw else 0) >> (p & 7)) & b_mask]
                ln = e & 15
                if p + ln > n:
                    raise WebpFormatError("bitstream truncated")
                p += ln
                b = e >> 4
            if a_single is not None:
                a = a_single
            else:
                i = p >> 3
                e = a_lut[((w32[i] if i < nw else 0) >> (p & 7)) & a_mask]
                ln = e & 15
                if p + ln > n:
                    raise WebpFormatError("bitstream truncated")
                p += ln
                a = e >> 4
            argb = (a << 24) | (r << 16) | (sym << 8) | b
            data[pos] = argb
            if cache is not None:
                cache[((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> cshift] = argb
            pos += 1
        elif sym < 280:  # backward reference
            code = sym - 256
            if code < 4:
                length = code + 1
            else:
                extra = (code - 2) >> 1
                if p + extra > n:
                    raise WebpFormatError("bitstream truncated")
                bits = (w32[p >> 3] >> (p & 7)) & ((1 << extra) - 1)
                p += extra
                length = (((2 + (code & 1)) << extra) | bits) + 1
            if d_single is not None:
                code = d_single
            else:
                i = p >> 3
                e = d_lut[((w32[i] if i < nw else 0) >> (p & 7)) & d_mask]
                ln = e & 15
                if p + ln > n:
                    raise WebpFormatError("bitstream truncated")
                p += ln
                code = e >> 4
            if code < 4:
                dist_code = code + 1
            else:
                extra = (code - 2) >> 1
                if p + extra > n:
                    raise WebpFormatError("bitstream truncated")
                bits = (w32[p >> 3] >> (p & 7)) & ((1 << extra) - 1)
                p += extra
                dist_code = (((2 + (code & 1)) << extra) | bits) + 1
            dist = _plane_distance(dist_code, width)
            if dist > pos or pos + length > total:
                raise WebpFormatError("LZ77 reference out of bounds")
            # chunk-wise sequential copy: each chunk is fully written
            # before the source window advances past it, so overlapping
            # references (dist < length) replicate exactly as the
            # per-pixel loop does
            end = pos + length
            while pos < end:
                m = dist if pos + dist <= end else end - pos
                data[pos : pos + m] = data[pos - dist : pos - dist + m]
                pos += m
            if cache is not None:
                for argb in data[end - length : end]:
                    cache[((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> cshift] = argb
        else:  # color cache hit
            if cache is None:
                raise WebpFormatError("cache symbol without color cache")
            idx = sym - 280
            if idx >= len(cache):
                raise WebpFormatError("color cache index out of range")
            data[pos] = cache[idx]
            pos += 1
    br.pos = p
    arr = np.asarray(data, dtype=np.uint32)
    out = np.empty((total, 4), dtype=np.uint8)
    out[:, 0] = arr >> np.uint32(24)
    out[:, 1] = arr >> np.uint32(16)
    out[:, 2] = arr >> np.uint32(8)
    out[:, 3] = arr
    return out


# ---------------------------------------------------------- transforms


def _inv_subtract_green(px: np.ndarray) -> None:
    g = px[:, 2].astype(np.uint16)
    px[:, 1] = ((px[:, 1].astype(np.uint16) + g) & 0xFF).astype(np.uint8)
    px[:, 3] = ((px[:, 3].astype(np.uint16) + g) & 0xFF).astype(np.uint8)


def _inv_color_indexing(
    px: np.ndarray, palette: np.ndarray, width: int, height: int, packed_w: int
) -> np.ndarray:
    """Indexed (possibly bundled) pixels -> expanded ARGB rows."""
    n_colors = len(palette)
    if n_colors <= 2:
        bits = 3  # 8 pixels per byte
    elif n_colors <= 4:
        bits = 2
    elif n_colors <= 16:
        bits = 1
    else:
        bits = 0
    idx = px[:, 2].reshape(height, packed_w)  # indices live in GREEN
    if bits == 0:
        full = idx
    else:
        per = 1 << bits  # pixels per packed byte
        depth = 8 >> bits  # bits per pixel
        cols = []
        for j in range(per):
            cols.append((idx >> (depth * j)) & ((1 << depth) - 1))
        full = np.stack(cols, axis=2).reshape(height, packed_w * per)[:, :width]
    if full.max(initial=0) >= n_colors:
        # out-of-range palette indices decode as transparent black per
        # libwebp; be strict instead (hostile input)
        raise WebpFormatError("palette index out of range")
    return palette[full.reshape(-1)]


def _inv_predictor(
    px: np.ndarray, modes: np.ndarray, bits: int, width: int, height: int
) -> None:
    """In-place inverse spatial prediction (all 14 modes). Scalar loop —
    fixture-scale payloads; predictor rows depend on prior pixels."""

    def avg2(a, b):
        return (a + b) >> 1

    p = px.reshape(height, width, 4).astype(np.int32)
    for y in range(height):
        for x in range(width):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int32)
            elif y == 0:
                pred = p[0, x - 1]
            elif x == 0:
                pred = p[y - 1, 0]
            else:
                mode = int(modes[y >> bits, x >> bits])
                L = p[y, x - 1]
                T = p[y - 1, x]
                TL = p[y - 1, x - 1]
                if x + 1 < width:
                    TR = p[y - 1, x + 1]
                else:
                    # rightmost column: TR aliases the CURRENT row's
                    # leftmost pixel (RFC 9649 — row buffers are
                    # contiguous in the reference decoder)
                    TR = p[y, 0]
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int32)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = avg2(avg2(L, TR), T)
                elif mode == 6:
                    pred = avg2(L, TL)
                elif mode == 7:
                    pred = avg2(L, T)
                elif mode == 8:
                    pred = avg2(TL, T)
                elif mode == 9:
                    pred = avg2(T, TR)
                elif mode == 10:
                    pred = avg2(avg2(L, TL), avg2(T, TR))
                elif mode == 11:  # Select
                    pall = L + T - TL
                    pl = np.abs(pall - L).sum()
                    pt = np.abs(pall - T).sum()
                    pred = L if pl < pt else T
                elif mode == 12:  # ClampAddSubtractFull
                    pred = np.clip(L + T - TL, 0, 255)
                elif mode == 13:  # ClampAddSubtractHalf
                    a = avg2(L, T)
                    # C division truncates toward ZERO (libwebp
                    # AddSubtractComponentHalf); numpy // would floor
                    # negatives one lower and corrupt every downstream
                    # prediction by compounding off-by-ones
                    q = a - TL
                    pred = np.clip(a + np.sign(q) * (np.abs(q) >> 1), 0, 255)
                else:
                    raise WebpFormatError(f"invalid predictor mode {mode}")
            p[y, x] = (p[y, x] + pred) & 0xFF
    px[:] = p.reshape(-1, 4).astype(np.uint8)


def _inv_color_transform(
    px: np.ndarray, elems: np.ndarray, bits: int, width: int, height: int
) -> None:
    """Inverse cross-channel color transform (spec 'Color Transform') —
    fully vectorized: unlike the predictor, every pixel depends only on
    its own channels, so the signed 3.5-fixed-point delta
    ((int8)t * (int8)c) >> 5 maps to exact int16 numpy ops (arithmetic
    shift floors negatives identically to the spec's C semantics)."""
    p = px.reshape(height, width, 4)
    ys = np.arange(height) >> bits
    xs = np.arange(width) >> bits
    e = elems[ys[:, None], xs[None, :]]  # (h, w) int64
    g2r = (e & 0xFF).astype(np.uint8).view(np.int8).astype(np.int16)  # blue
    g2b = ((e >> 8) & 0xFF).astype(np.uint8).view(np.int8).astype(np.int16)
    r2b = ((e >> 16) & 0xFF).astype(np.uint8).view(np.int8).astype(np.int16)
    g = p[:, :, 2].view(np.int8).astype(np.int16)  # signed cast of green
    r = (p[:, :, 1].astype(np.int16) + ((g2r * g) >> 5)) & 0xFF
    # r2b multiplies the UPDATED red, as a signed int8
    r8 = r.astype(np.uint8).view(np.int8).astype(np.int16)
    b = (p[:, :, 3].astype(np.int16) + ((g2b * g) >> 5) + ((r2b * r8) >> 5)) & 0xFF
    p[:, :, 1] = r.astype(np.uint8)
    p[:, :, 3] = b.astype(np.uint8)


# -------------------------------------------------------------- decoder


def decode_webp(payload: bytes) -> np.ndarray:
    """WebP-lossless bytes -> (h, w, 4) uint8 RGBA."""
    data = bytes(payload)
    if not is_webp(data):
        raise WebpFormatError("bad RIFF/WEBP signature")
    if data[12:16] != b"VP8L":
        raise NotImplementedError(
            f"WebP variant {data[12:16]!r} (lossy VP8 / extended VP8X) "
            "has no dependency-free codec here — only VP8L decodes"
        )
    if len(data) < 21:
        raise WebpFormatError("VP8L chunk truncated")
    (chunk_len,) = struct.unpack("<I", data[16:20])
    body = data[20 : 20 + chunk_len]
    if len(body) < chunk_len or not body:
        raise WebpFormatError("VP8L payload shorter than chunk length")
    if body[0] != 0x2F:
        raise WebpFormatError("bad VP8L signature byte")
    br = _BitReader(body[1:])
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read(1)  # alpha-used hint
    if br.read(3) != 0:
        raise WebpFormatError("unknown VP8L version")
    if width * height > _MAX_PIXELS:
        raise WebpFormatError("dimensions exceed bomb guard")
    # transforms (each type at most once)
    transforms = []
    seen = set()
    xsize = width
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise WebpFormatError("duplicate transform")
        seen.add(ttype)
        if ttype == 2:  # subtract green
            transforms.append(("subtract_green",))
        elif ttype == 0:  # predictor
            bits = br.read(3) + 2
            mw = _subsample_size(xsize, bits)
            mh = _subsample_size(height, bits)
            img = _decode_argb_image(br, mw, mh, allow_meta=False)
            modes = img[:, 2].reshape(mh, mw)  # green channel
            transforms.append(("predictor", modes, bits))
        elif ttype == 1:  # color transform
            bits = br.read(3) + 2
            mw = _subsample_size(xsize, bits)
            mh = _subsample_size(height, bits)
            img = _decode_argb_image(br, mw, mh, allow_meta=False)
            elems = (
                img[:, 1].astype(np.int64) << 16  # red: r2b (cte order below)
                | img[:, 2].astype(np.int64) << 8
                | img[:, 3].astype(np.int64)
            ).reshape(mh, mw)
            transforms.append(("color", elems, bits))
        else:  # 3: color indexing
            n_colors = br.read(8) + 1
            pal_img = _decode_argb_image(br, n_colors, 1, allow_meta=False)
            # palette entries are delta-coded component-wise
            pal = np.cumsum(pal_img.astype(np.int64), axis=0) & 0xFF
            palette = pal.astype(np.uint8)
            if n_colors <= 2:
                xsize = _subsample_size(xsize, 3)
            elif n_colors <= 4:
                xsize = _subsample_size(xsize, 2)
            elif n_colors <= 16:
                xsize = _subsample_size(xsize, 1)
            transforms.append(("palette", palette))
    px = _decode_argb_image(br, xsize, height, allow_meta=True)
    # inverse transforms, reverse order
    cur_w = xsize
    for t in reversed(transforms):
        if t[0] == "palette":
            px = _inv_color_indexing(px, t[1], width, height, cur_w)
            cur_w = width
        elif t[0] == "subtract_green":
            _inv_subtract_green(px)
        elif t[0] == "predictor":
            _inv_predictor(px, t[1], t[2], cur_w, height)
        elif t[0] == "color":
            _inv_color_transform(px, t[1], t[2], cur_w, height)
    if cur_w != width:
        raise WebpFormatError("palette transform missing for bundled width")
    # ARGB -> RGBA
    rgba = np.empty((height, width, 4), dtype=np.uint8)
    arr = px.reshape(height, width, 4)
    rgba[:, :, 0] = arr[:, :, 1]
    rgba[:, :, 1] = arr[:, :, 2]
    rgba[:, :, 2] = arr[:, :, 3]
    rgba[:, :, 3] = arr[:, :, 0]
    return rgba


# -------------------------------------------------------------- encoder


def _huffman_lengths(freqs: list[int], max_len: int = 15) -> list[int]:
    """Code lengths from symbol frequencies — plain heapq Huffman with a
    (rarely-needed) depth clamp + Kraft fixup."""
    active = [(f, i) for i, f in enumerate(freqs) if f > 0]
    n = len(active)
    lengths = [0] * len(freqs)
    if n == 0:
        raise WebpFormatError("empty histogram")
    if n == 1:
        lengths[active[0][1]] = 1
        return lengths
    heap = [(f, i, (i,)) for f, i in active]
    heapq.heapify(heap)
    counter = len(freqs)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, counter, s1 + s2))
        counter += 1
    if max(lengths) > max_len:
        # pathological (Fibonacci-like) histogram drove Huffman past the
        # depth cap. An exact depth-limited repair (package-merge) is
        # overkill; fall back to a PROVABLY complete near-balanced code:
        # with n used symbols and L = ceil(log2 n), the 2^L - n most
        # frequent symbols take length L-1, the rest take L — Kraft sums
        # to exactly 1 and L <= 12 for every alphabet in this format.
        # (The previous clamp-and-lengthen-the-shortest fixup could
        # overshoot below Kraft equality and emit a code the strict
        # decoder rejects.)
        used = sorted(
            (i for i, f in enumerate(freqs) if f > 0), key=lambda i: -freqs[i]
        )
        big = max(1, (len(used) - 1).bit_length())
        short_slots = (1 << big) - len(used)
        lengths = [0] * len(freqs)
        for rank, i in enumerate(used):
            lengths[i] = big - 1 if rank < short_slots and big > 1 else big
    return lengths


def _canonical_codes(lengths: list[int]) -> list[int]:
    counts: dict[int, int] = {}
    for ln in lengths:
        if ln:
            counts[ln] = counts.get(ln, 0) + 1
    code = 0
    next_code = {}
    for ln in range(1, max(counts) + 1):
        code = (code + counts.get(ln - 1, 0)) << 1
        next_code[ln] = code
    codes = [0] * len(lengths)
    for sym, ln in enumerate(lengths):
        if ln:
            codes[sym] = next_code[ln]
            next_code[ln] += 1
    return codes


def _write_bits_msb_code(bw: _BitWriter, code: int, length: int) -> None:
    """Prefix codes are written MSB-first (mirrors the decoder's walk)."""
    for i in range(length - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _emit_lengths(lengths: list[int]) -> list[int]:
    """Per-symbol bit counts the ENCODER must write: a single-symbol
    code is zero bits on the wire (the decoder returns it without
    reading), even though its declared length is 1."""
    if sum(1 for ln in lengths if ln) == 1:
        return [0] * len(lengths)
    return lengths


def _write_prefix_code(bw: _BitWriter, lengths: list[int]) -> None:
    """Emit a prefix-code header for ``lengths`` — simple form for 1-2
    symbols, normal form (literal per-symbol lengths through a real
    code-length code, no repeat codes) otherwise."""
    nz = [i for i, ln in enumerate(lengths) if ln]
    if len(nz) <= 2 and all(lengths[i] == 1 for i in nz) and nz[-1] < 256:
        # simple form carries symbols in 8 bits — length/cache symbols
        # (>= 256 in the green alphabet) MUST use the normal form
        bw.write(1, 1)  # simple form
        bw.write(len(nz) - 1, 1)
        first = nz[0]
        if first > 1:
            bw.write(1, 1)
            bw.write(first, 8)
        else:
            bw.write(0, 1)
            bw.write(first, 1)
        if len(nz) == 2:
            bw.write(nz[1], 8)
        return
    bw.write(0, 1)  # normal form
    # emit the used symbols' lengths literally through a code-length
    # code; the MAX_SYMBOL field truncates the zero tail (the decoder
    # leaves unmentioned symbols at 0), which matters for the 280+-entry
    # green alphabet where only low symbols are typically used
    ms = max(nz) + 1
    tail_truncated = ms < len(lengths)
    emit_list = lengths[:ms] if tail_truncated else lengths
    cl_freq = [0] * 19
    for ln in emit_list:
        cl_freq[ln] += 1
    cl_lengths = _huffman_lengths(cl_freq, max_len=7)
    # order-truncated: find how many of the ordered slots we must send
    order_pos = {s: i for i, s in enumerate(_CODE_LENGTH_ORDER)}
    last_needed = max(order_pos[s] for s, ln in enumerate(cl_lengths) if ln)
    num_codes = max(last_needed + 1, 4)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths[_CODE_LENGTH_ORDER[i]], 3)
    if tail_truncated:
        bw.write(1, 1)  # max_symbol field present
        nbits_sel = 0
        while 2 + 2 * nbits_sel < max(2, (max(ms, 2) - 2).bit_length()):
            nbits_sel += 1
        bw.write(nbits_sel, 3)
        bw.write(max(ms, 2) - 2, 2 + 2 * nbits_sel)
    else:
        bw.write(0, 1)  # no max_symbol field
    cl_codes = _canonical_codes(cl_lengths)
    cl_emit = _emit_lengths(cl_lengths)
    for ln in emit_list:
        _write_bits_msb_code(bw, cl_codes[ln], cl_emit[ln])


def _encode_two_group_literals(
    bw: _BitWriter, px: np.ndarray, width: int, mbits: int, gid_col: np.ndarray
) -> None:
    """Literal emission under a two-group meta-prefix split: per-group
    Huffman codes (5 each, distance = unused 1-symbol simple code),
    every pixel coded with its block column's group."""
    per_px_gid = gid_col[(np.arange(width) >> mbits)]
    gids = np.tile(per_px_gid, len(px) // width)
    codes = []
    for g in (0, 1):
        sel = px[gids == g]
        group = []
        for ch, size in ((2, 280), (1, 256), (3, 256), (0, 256)):
            freqs = np.bincount(sel[:, ch], minlength=size).tolist() if len(sel) else [0] * size
            if sum(freqs) == 0:
                freqs[0] = 1
            lengths = _huffman_lengths(freqs)
            _write_prefix_code(bw, lengths)
            group.append((_canonical_codes(lengths), _emit_lengths(lengths)))
        # distance: unused 1-symbol simple code
        bw.write(1, 1)
        bw.write(0, 1)
        bw.write(0, 1)
        bw.write(0, 1)
        codes.append(group)
    for i in range(len(px)):
        (gc, gl), (rc, rl), (bc, bl), (ac, al_) = codes[int(gids[i])]
        for (cs, ls), ch in (((gc, gl), 2), ((rc, rl), 1), ((bc, bl), 3), ((ac, al_), 0)):
            v = int(px[i, ch])
            _write_bits_msb_code(bw, cs[v], ls[v])


def _lz77_code_of(value: int) -> tuple[int, int, int]:
    """value (>= 1) -> (prefix code, n extra bits, extra value)."""
    if value <= 4:
        return value - 1, 0, 0
    for code in range(4, 40):
        extra = (code - 2) >> 1
        off = (2 + (code & 1)) << extra
        if off + 1 <= value <= off + (1 << extra):
            return code, extra, value - off - 1
    raise WebpFormatError(f"LZ77 value {value} out of range")


def _encode_argb_stream(
    bw: _BitWriter,
    px: np.ndarray,
    width: int,
    use_lz77: bool,
    cache_bits: int,
    top_level: bool = False,
    meta_split: bool = False,
) -> None:
    """Spatially-coded ARGB image body: optional color cache, optional
    distance-1 run LZ77, one prefix-code group — or, with ``meta_split``
    (top-level only), TWO groups selected by a real meta-prefix image
    (left/right block halves), literals-only. ``px`` is (N, 4) uint8
    [a, r, g, b]."""
    total = len(px)
    if meta_split and (use_lz77 or cache_bits or not top_level):
        raise WebpFormatError(
            "meta_split is a literals-only top-level encoder mode"
        )
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if top_level:
        mbits = 2  # block size 4
        mw = _subsample_size(width, mbits)
        if meta_split and mw >= 2:
            # mw == 1 would make the meta image all-zeros: the decoder
            # would derive ONE group while two sets of codes follow —
            # a silent desync, so narrow images fall through to the
            # single-group path instead
            bw.write(1, 1)  # meta prefix codes present
            bw.write(mbits - 2, 3)
            height = total // width
            mh = _subsample_size(height, mbits)
            gid_col = (np.arange(mw) >= (mw + 1) // 2).astype(np.uint8)
            meta = np.zeros((mh * mw, 4), dtype=np.uint8)
            meta[:, 0] = 255
            meta[:, 2] = np.tile(gid_col, mh)  # group id lives in green
            _encode_argb_stream(bw, meta, mw, use_lz77=False, cache_bits=0)
            _encode_two_group_literals(bw, px, width, mbits, gid_col)
            return
        bw.write(0, 1)  # no meta prefix codes (sub-images have no bit)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    argbs = (
        px[:, 0].astype(np.int64) << 24
        | px[:, 1].astype(np.int64) << 16
        | px[:, 2].astype(np.int64) << 8
        | px[:, 3].astype(np.int64)
    )
    # op stream: ("lit", i) | ("cache", idx) | ("ref", len_code, extra_n,
    # extra_v, dist_sym, d_extra_n, d_extra_v)
    ops = []
    cache_size = 1 << cache_bits if cache_bits else 0
    i = 0
    while i < total:
        if use_lz77 and i > 0 and argbs[i] == argbs[i - 1]:
            run = 1
            while i + run < total and argbs[i + run] == argbs[i - 1]:
                run += 1
            run = min(run, 4096)  # max expressible length (code 23)
            if run >= 3:
                lcode, ln_, lv = _lz77_code_of(run)
                # linear distance 1 -> dist_code 121
                dsym, dn_, dv = _lz77_code_of(121)
                ops.append(("ref", lcode, ln_, lv, dsym, dn_, dv))
                if cache is not None:
                    hidx = ((int(argbs[i]) * 0x1E35A7BD) & 0xFFFFFFFF) >> (
                        32 - cache_bits
                    )
                    cache[hidx] = int(argbs[i])
                i += run
                continue
        v = int(argbs[i])
        if cache is not None:
            hidx = ((v * 0x1E35A7BD) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[hidx] == v:
                ops.append(("cache", hidx))
                i += 1
                continue
            cache[hidx] = v
        ops.append(("lit", i))
        i += 1
    green_size = 256 + 24 + cache_size
    gf = [0] * green_size
    rf = [0] * 256
    bf = [0] * 256
    af = [0] * 256
    df = [0] * 40
    for op in ops:
        if op[0] == "lit":
            _, idx = op
            af[px[idx, 0]] += 1
            rf[px[idx, 1]] += 1
            gf[px[idx, 2]] += 1
            bf[px[idx, 3]] += 1
        elif op[0] == "cache":
            gf[280 + op[1]] += 1
        else:
            gf[256 + op[1]] += 1
            df[op[4]] += 1
    codes = []
    for freqs in (gf, rf, bf, af, df):
        if sum(freqs) == 0:
            freqs = list(freqs)
            freqs[0] = 1  # unused alphabet: 1-symbol simple code
        lengths = _huffman_lengths(freqs)
        _write_prefix_code(bw, lengths)
        codes.append((_canonical_codes(lengths), _emit_lengths(lengths)))
    (gc, gl), (rc, rl), (bc, bl), (ac, al_), (dc, dl) = codes
    for op in ops:
        if op[0] == "lit":
            _, idx = op
            gv = int(px[idx, 2])
            _write_bits_msb_code(bw, gc[gv], gl[gv])
            rv = int(px[idx, 1])
            _write_bits_msb_code(bw, rc[rv], rl[rv])
            bv = int(px[idx, 3])
            _write_bits_msb_code(bw, bc[bv], bl[bv])
            av = int(px[idx, 0])
            _write_bits_msb_code(bw, ac[av], al_[av])
        elif op[0] == "cache":
            s = 280 + op[1]
            _write_bits_msb_code(bw, gc[s], gl[s])
        else:
            _, lcode, ln_, lv, dsym, dn_, dv = op
            s = 256 + lcode
            _write_bits_msb_code(bw, gc[s], gl[s])
            bw.write(lv, ln_)
            _write_bits_msb_code(bw, dc[dsym], dl[dsym])
            bw.write(dv, dn_)


def _forward_predictor(a4: np.ndarray, mode: int) -> np.ndarray:
    """Forward constant-mode prediction residuals (lossless, so the
    reconstructed neighbors ARE the originals)."""
    h, w, _ = a4.shape
    p = a4.astype(np.int32)
    res = np.zeros_like(p)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int32)
            elif y == 0:
                pred = p[0, x - 1]
            elif x == 0:
                pred = p[y - 1, 0]
            else:
                L = p[y, x - 1]
                T = p[y - 1, x]
                TL = p[y - 1, x - 1]
                TR = p[y - 1, x + 1] if x + 1 < w else p[y, 0]

                def avg2(a, b):
                    return (a + b) >> 1

                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int32)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = avg2(avg2(L, TR), T)
                elif mode == 6:
                    pred = avg2(L, TL)
                elif mode == 7:
                    pred = avg2(L, T)
                elif mode == 8:
                    pred = avg2(TL, T)
                elif mode == 9:
                    pred = avg2(T, TR)
                elif mode == 10:
                    pred = avg2(avg2(L, TL), avg2(T, TR))
                elif mode == 11:
                    pall = L + T - TL
                    pred = L if np.abs(pall - L).sum() < np.abs(pall - T).sum() else T
                elif mode == 12:
                    pred = np.clip(L + T - TL, 0, 255)
                else:  # 13 — same toward-zero truncation as the inverse
                    a = avg2(L, T)
                    q = a - TL
                    pred = np.clip(a + np.sign(q) * (np.abs(q) >> 1), 0, 255)
            res[y, x] = (p[y, x] - pred) & 0xFF
    return res.astype(np.uint8)


def _vp8l_body(
    img: np.ndarray,
    use_lz77: bool = True,
    cache_bits: int = 0,
    palette: bool = False,
    subtract_green: bool = False,
    predictor_mode: int | None = None,
    color_transform: tuple[int, int, int] | None = None,
    meta_split: bool = False,
) -> bytes:
    """(h, w, 3|4) or (h, w) uint8 -> WebP-lossless bytes.

    A fully VALID subset encoder: real canonical Huffman codes, optional
    distance-1-run LZ77, optional color cache, and optional transforms
    (palette / subtract-green / constant-mode predictor / constant color
    transform) — each emitting the spec bitstream the general decoder
    consumes, so every decode path is round-trip testable with zero
    third-party bytes. Options compose in spec transform order."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    if a.shape[2] == 3:
        a = np.concatenate([a, np.full(a.shape[:2] + (1,), 255, np.uint8)], axis=2)
    h, w, _ = a.shape
    if h < 1 or w < 1 or h > 1 << 14 or w > 1 << 14:
        raise WebpFormatError("dimensions out of VP8L range")
    # ARGB working copy
    argb = np.empty((h, w, 4), dtype=np.uint8)
    argb[:, :, 0] = a[:, :, 3]
    argb[:, :, 1] = a[:, :, 0]
    argb[:, :, 2] = a[:, :, 1]
    argb[:, :, 3] = a[:, :, 2]
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1, 1)  # alpha hint
    bw.write(0, 3)  # version
    xsize = w
    if predictor_mode is not None:
        if not 0 <= predictor_mode <= 13:
            raise WebpFormatError(f"invalid predictor mode {predictor_mode}")
        bw.write(1, 1)
        bw.write(0, 2)  # type: predictor
        bits = 4
        bw.write(bits - 2, 3)
        mw = _subsample_size(xsize, bits)
        mh = _subsample_size(h, bits)
        modes = np.zeros((mw * mh, 4), dtype=np.uint8)
        modes[:, 0] = 255
        modes[:, 2] = predictor_mode  # green channel
        _encode_argb_stream(bw, modes, mw, use_lz77=True, cache_bits=0)
        argb = _forward_predictor(argb, predictor_mode)
    if color_transform is not None:
        g2r, g2b, r2b = (v & 0xFF for v in color_transform)
        bw.write(1, 1)
        bw.write(1, 2)  # type: color transform
        bits = 4
        bw.write(bits - 2, 3)
        mw = _subsample_size(xsize, bits)
        mh = _subsample_size(h, bits)
        elem = np.zeros((mw * mh, 4), dtype=np.uint8)
        elem[:, 0] = 255
        elem[:, 1] = r2b  # red
        elem[:, 2] = g2b  # green
        elem[:, 3] = g2r  # blue
        _encode_argb_stream(bw, elem, mw, use_lz77=True, cache_bits=0)

        def _d(t: int, c: int) -> int:
            t8 = t if t < 128 else t - 256
            c8 = c if c < 128 else c - 256
            return (t8 * c8) >> 5

        flat = argb.reshape(-1, 4).astype(np.int32)
        for i in range(len(flat)):
            g = int(flat[i, 2])
            r = int(flat[i, 1])
            flat[i, 1] = (r - _d(g2r, g)) & 0xFF
            flat[i, 3] = (int(flat[i, 3]) - _d(g2b, g) - _d(r2b, r)) & 0xFF
        argb = flat.astype(np.uint8).reshape(h, w, 4)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # type: subtract green
        g16 = argb[:, :, 2].astype(np.int16)
        argb[:, :, 1] = ((argb[:, :, 1].astype(np.int16) - g16) & 0xFF).astype(np.uint8)
        argb[:, :, 3] = ((argb[:, :, 3].astype(np.int16) - g16) & 0xFF).astype(np.uint8)
    if palette:
        flat = argb.reshape(-1, 4)
        packed = (
            flat[:, 0].astype(np.int64) << 24
            | flat[:, 1].astype(np.int64) << 16
            | flat[:, 2].astype(np.int64) << 8
            | flat[:, 3].astype(np.int64)
        )
        colors, inv = np.unique(packed, return_inverse=True)
        if len(colors) > 256:
            raise WebpFormatError(
                f"{len(colors)} distinct colors > 256: palette impossible"
            )
        n_colors = len(colors)
        bw.write(1, 1)
        bw.write(3, 2)  # type: color indexing
        bw.write(n_colors - 1, 8)
        pal4 = np.stack(
            [
                (colors >> 24) & 0xFF,
                (colors >> 16) & 0xFF,
                (colors >> 8) & 0xFF,
                colors & 0xFF,
            ],
            axis=1,
        ).astype(np.int16)
        deltas = np.empty_like(pal4)
        deltas[0] = pal4[0]
        deltas[1:] = (pal4[1:] - pal4[:-1]) & 0xFF
        _encode_argb_stream(
            bw, deltas.astype(np.uint8), n_colors, use_lz77=False, cache_bits=0
        )
        idx = inv.reshape(h, w).astype(np.uint8)
        if n_colors <= 2:
            depth, per = 1, 8
        elif n_colors <= 4:
            depth, per = 2, 4
        elif n_colors <= 16:
            depth, per = 4, 2
        else:
            depth, per = 8, 1
        if per > 1:
            packed_w = (w + per - 1) // per
            padded = np.zeros((h, packed_w * per), dtype=np.uint8)
            padded[:, :w] = idx
            bundled = np.zeros((h, packed_w), dtype=np.uint8)
            for j in range(per):
                bundled |= padded[:, j::per] << (depth * j)
            idx = bundled
            xsize = packed_w
        argb = np.zeros((h, xsize, 4), dtype=np.uint8)
        argb[:, :, 0] = 255
        argb[:, :, 2] = idx
    bw.write(0, 1)  # end of transforms
    _encode_argb_stream(
        bw,
        argb.reshape(-1, 4),
        xsize,
        use_lz77=False if meta_split else use_lz77,
        cache_bits=0 if meta_split else cache_bits,
        top_level=True,
        meta_split=meta_split,
    )
    return b"\x2f" + bw.finish()


def _chunk(tag: bytes, body: bytes) -> bytes:
    """RIFF chunk with even-length padding."""
    pad = b"\x00" if len(body) % 2 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _riff(chunks: bytes) -> bytes:
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def encode_webp(img: np.ndarray, **kw) -> bytes:
    """(h, w, 3|4) or (h, w) uint8 -> WebP-lossless bytes. See
    ``_vp8l_body`` for the subset-encoder options (use_lz77, cache_bits,
    palette, subtract_green, predictor_mode, color_transform,
    meta_split)."""
    return _riff(_chunk(b"VP8L", _vp8l_body(img, **kw)))


# ------------------------------------------------------------ animation


def encode_webp_animation(
    frames: list[np.ndarray], duration_ms: int = 100, **kw
) -> bytes:
    """Full-canvas animation frames -> animated WebP (VP8X + ANIM +
    one ANMF per frame wrapping a lossless VP8L body; no-blend,
    dispose-none). ``kw`` passes through to the VP8L subset encoder."""
    if not frames:
        raise WebpFormatError("empty animation")
    h, w = np.asarray(frames[0]).shape[:2]
    if not (1 <= w <= 1 << 24 and 1 <= h <= 1 << 24):
        raise WebpFormatError("canvas out of VP8X range")
    out = []
    # VP8X: flags (animation = 0x02), 3 reserved bytes, canvas w-1/h-1
    out.append(
        _chunk(
            b"VP8X",
            bytes([0x02, 0, 0, 0])
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little"),
        )
    )
    # ANIM: background color BGRA + loop count (0 = infinite)
    out.append(_chunk(b"ANIM", bytes([0, 0, 0, 0]) + (0).to_bytes(2, "little")))
    for f in frames:
        a = np.asarray(f)
        if a.shape[:2] != (h, w):
            raise WebpFormatError("animation frames must share the canvas size")
        body = _chunk(b"VP8L", _vp8l_body(a, **kw))
        anmf = (
            (0).to_bytes(3, "little")  # frame x / 2
            + (0).to_bytes(3, "little")  # frame y / 2
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
            + int(duration_ms).to_bytes(3, "little")
            + bytes([0x02])  # no-blend (bit 1), dispose-none (bit 0 = 0)
            + body
        )
        out.append(_chunk(b"ANMF", anmf))
    return _riff(b"".join(out))


def _iter_chunks(data: bytes, pos: int, end: int):
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body_end = pos + 8 + ln
        if body_end > end:
            raise WebpFormatError(f"{tag!r} chunk overruns container")
        yield tag, pos + 8, body_end
        pos = body_end + (ln & 1)  # even-length padding


def count_webp_frames(payload: bytes) -> int:
    """Structural frame count — RIFF chunk walk only, no VP8L decode,
    no pixel allocation. Still VP8L / non-animated VP8X count as 1;
    animated counts ANMF chunks. Lets samplers map positions to frame
    indices BEFORE deciding which composited canvases to keep."""
    data = bytes(payload)
    if not is_webp(data):
        raise WebpFormatError("bad RIFF/WEBP signature")
    if data[12:16] == b"VP8L":
        return 1
    if data[12:16] != b"VP8X":
        raise NotImplementedError(
            f"WebP variant {data[12:16]!r} has no dependency-free codec"
        )
    (riff_len,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_len)
    chunks = list(_iter_chunks(data, 12, end))
    if not chunks or chunks[0][0] != b"VP8X":
        raise WebpFormatError("VP8X chunk missing")
    if not data[chunks[0][1]] & 0x02:
        return 1
    n_anmf = sum(1 for tag, _, _ in chunks[1:] if tag == b"ANMF")
    if n_anmf < 1:
        raise WebpFormatError("animated WebP with no ANMF frames")
    return n_anmf


def decode_webp_frames(
    payload: bytes,
    max_frames: int | None = None,
    sample_k: int | None = None,
    keep_indices: set[int] | None = None,
) -> list[np.ndarray]:
    """WebP bytes -> list of composited (h, w, 4) uint8 RGBA frames.

    Still VP8L images decode to a single frame; animated WebP (VP8X +
    ANIM + ANMF, lossless VP8L frame payloads) composites per the
    container spec: per-frame rect placement on the canvas, alpha-blend
    or no-blend, dispose-to-background (transparent per spec) or none.
    Lossy VP8 frame payloads raise NotImplementedError (same seam as
    ``decode_webp``).

    ``sample_k``: composite EVERY frame (inter-frame state demands it)
    but materialize canvas copies only at the k evenly-sampled frame
    indices (the even_sample grid) — samplers never hold all composited
    frames, and the bomb guard bounds only what is kept, so long
    legitimate animations sample fine while a hostile frame flood still
    cannot demand unbounded memory. ``max_frames`` is the early-stop
    variant (first N composited frames).

    ``keep_indices``: explicit frame-number keep-set (overrides
    sample_k's even grid); frames return in frame order, so the caller
    zips sorted(keep_indices) with the result."""
    data = bytes(payload)
    if not is_webp(data):
        raise WebpFormatError("bad RIFF/WEBP signature")
    if data[12:16] == b"VP8L":
        return [decode_webp(data)]
    if data[12:16] != b"VP8X":
        raise NotImplementedError(
            f"WebP variant {data[12:16]!r} has no dependency-free codec"
        )
    (riff_len,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_len)
    chunks = list(_iter_chunks(data, 12, end))
    if not chunks or chunks[0][0] != b"VP8X":
        raise WebpFormatError("VP8X chunk missing")
    _, s0, e0 = chunks[0]
    if e0 - s0 != 10:
        raise WebpFormatError("VP8X chunk must be 10 bytes")
    flags = data[s0]
    cw = int.from_bytes(data[s0 + 4 : s0 + 7], "little") + 1
    ch = int.from_bytes(data[s0 + 7 : s0 + 10], "little") + 1
    if cw * ch > _MAX_PIXELS:
        raise WebpFormatError("canvas exceeds bomb guard")
    if not flags & 0x02:
        # non-animated extended file: decode the single image chunk
        for tag, s, e in chunks[1:]:
            if tag == b"VP8L":
                return [decode_webp(_riff(_chunk(b"VP8L", data[s:e])))]
            if tag == b"VP8 ":
                raise NotImplementedError("lossy VP8 frame")
        raise WebpFormatError("extended WebP with no image chunk")
    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)  # transparent black
    keep = None
    if keep_indices is not None:
        keep = {int(i) for i in keep_indices}
    elif sample_k is not None:
        n_anmf = sum(1 for tag, _, _ in chunks[1:] if tag == b"ANMF")
        if n_anmf < 1:
            raise WebpFormatError("animated WebP with no ANMF frames")
        if n_anmf <= sample_k:
            keep = set(range(n_anmf))
        else:
            keep = {int(i) * n_anmf // sample_k for i in range(sample_k)}
    frames: list[np.ndarray] = []
    frame_no = -1
    for tag, s, e in chunks[1:]:
        if tag != b"ANMF":
            continue
        frame_no += 1
        if (len(frames) + 1) * cw * ch > _MAX_PIXELS and (
            keep is None or frame_no in keep
        ):
            # cumulative guard across KEPT composited frames (each is a
            # full canvas copy): a KB-scale payload declaring a huge
            # canvas plus many tiny ANMF rects must not materialize
            # terabytes; sampled decodes keep at most sample_k copies
            raise WebpFormatError("total composited pixels exceed bomb guard")
        if e - s < 16:
            raise WebpFormatError("ANMF header truncated")
        fx = int.from_bytes(data[s : s + 3], "little") * 2
        fy = int.from_bytes(data[s + 3 : s + 6], "little") * 2
        fw = int.from_bytes(data[s + 6 : s + 9], "little") + 1
        fh = int.from_bytes(data[s + 9 : s + 12], "little") + 1
        fflags = data[s + 15]
        if fx + fw > cw or fy + fh > ch:
            raise WebpFormatError("ANMF frame outside canvas")
        rgba = None
        for ftag, fs, fe in _iter_chunks(data, s + 16, e):
            if ftag == b"VP8L":
                rgba = decode_webp(_riff(_chunk(b"VP8L", data[fs:fe])))
                break
            if ftag == b"VP8 ":
                raise NotImplementedError("lossy VP8 animation frame")
        if rgba is None:
            raise WebpFormatError("ANMF without an image chunk")
        if rgba.shape[:2] != (fh, fw):
            raise WebpFormatError("ANMF dimensions disagree with VP8L")
        rect = canvas[fy : fy + fh, fx : fx + fw]
        if fflags & 0x02:  # no-blend: replace
            rect[:] = rgba
        else:
            # spec alpha compositing (container spec 'Alpha blending'):
            # A' = af + ac*(1-af); rgb' = (rgb_f*af + rgb_c*ac*(1-af))/A'
            # — the canvas term is weighted by the CANVAS alpha, so a
            # semi-transparent frame over a transparent canvas yields
            # the frame's own colors, not a blend with invisible black.
            # Exact integer math scaled by 255; truncating division.
            af = rgba[:, :, 3:4].astype(np.int64)
            ac = rect[:, :, 3:4].astype(np.int64)
            a_out255 = af * 255 + ac * (255 - af)  # alpha scaled by 255
            num = (
                rgba[:, :, :3].astype(np.int64) * af * 255
                + rect[:, :, :3].astype(np.int64) * ac * (255 - af)
            )
            safe = np.maximum(a_out255, 1)
            rect[:, :, :3] = np.where(a_out255 > 0, num // safe, 0).astype(
                np.uint8
            )
            rect[:, :, 3:4] = ((a_out255 + 127) // 255).astype(np.uint8)
        if keep is None or frame_no in keep:
            frames.append(canvas.copy())
        if max_frames is not None and len(frames) >= max_frames:
            return frames
        if keep is not None and frame_no >= max(keep):
            return frames
        if fflags & 0x01:  # dispose to background: transparent black
            canvas[fy : fy + fh, fx : fx + fw] = 0
    if not frames:
        raise WebpFormatError("animated WebP with no ANMF frames")
    return frames
