"""Dependency-free FLAC codec — stdlib + numpy only.

Decoder covers the FLAC feature set a web/audio corpus contains
(public spec: RFC 9639 / xiph.org FLAC format): STREAMINFO + skipped
metadata blocks, fixed- and variable-blocksize frames, UTF-8-coded
frame/sample numbers, all four channel assignments (independent,
left/side, right/side, mid/side), subframe types CONSTANT, VERBATIM,
FIXED (orders 0-4) and LPC (orders 1-32, quantized coefficients with
signed shift), wasted-bits, partitioned Rice residuals (both 4- and
5-bit parameter variants, escape partitions), with CRC-8 frame-header
and CRC-16 frame verification. Bit depths 8/12/16/20/24.

Matching encoder emits a valid subset — 16-bit, fixed 4096-sample
blocks, independent or mid/side stereo, FIXED predictors (orders 0-2,
per-block best-of), single-partition Rice residuals — so round-trips
are testable with zero third-party bytes while the decoder stays
general. FLAC is LOSSLESS: decode(encode(x)) == x exactly, which is
what lets FLAC rows carry pre-encoding truth under the features gate
and makes WAV<->FLAC a hamming-0 pair in the audio fingerprint.

Hostile-input posture mirrors the other codecs: typed
``FlacFormatError`` (a ValueError), output bounded by STREAMINFO's
declared totals, sample-count bomb guard.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_SAMPLES = 1 << 28  # bomb guard (~256M samples)

FLAC_MAGIC = b"fLaC"


class FlacFormatError(ValueError):
    """Structurally invalid / truncated / hostile FLAC payload."""


def is_flac(payload: bytes) -> bool:
    return payload[:4] == FLAC_MAGIC


# ------------------------------------------------------------- bit I/O


class _BitReader:
    """MSB-first bit reader (FLAC's bit order, unlike VP8L's), with a
    32-bit window per byte offset so field reads are one index + shift
    and unary runs advance by whole zero-windows — the same LUT-window
    discipline as the WebP and JPEG readers."""

    __slots__ = ("w32", "pos", "n", "_u8", "_w32np", "_ones")

    def __init__(self, data):
        buf = np.frombuffer(bytes(data) + b"\x00\x00\x00\x00", dtype=np.uint8)
        w = buf.astype(np.uint32)
        w32np = (
            (w[:-3] << np.uint32(24))
            | (w[1:-2] << np.uint32(16))
            | (w[2:-1] << np.uint32(8))
            | w[3:]
        )
        self.w32 = w32np.tolist()
        self.pos = 0
        self.n = (len(buf) - 4) * 8
        # kept for the VECTORIZED rice path (_rice_partition_vec):
        # the numpy window for batched remainder gathers, and the
        # lazily-built sorted positions of every 1 bit (unary
        # terminators live in this array)
        self._u8 = buf
        self._w32np = w32np
        self._ones = None

    def ones_positions(self) -> np.ndarray:
        """Sorted bit positions (MSB-first, matching ``pos``) of every
        1 bit in the real data — built once per reader, lazily."""
        if self._ones is None:
            self._ones = np.flatnonzero(np.unpackbits(self._u8[:-4]))
        return self._ones

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        if nbits > 25:
            # the 32-bit window holds at most 25 usable bits at offset 7
            # (36-bit STREAMINFO totals, RICE2 params 26-30 hit this)
            return self.read_wide(nbits)
        p = self.pos
        if p + nbits > self.n:
            raise FlacFormatError("bitstream truncated")
        self.pos = p + nbits
        return (self.w32[p >> 3] >> (32 - (p & 7) - nbits)) & ((1 << nbits) - 1)

    def read_wide(self, nbits: int) -> int:
        out = 0
        while nbits > 24:
            out = (out << 24) | self.read(24)
            nbits -= 24
        return (out << nbits) | self.read(nbits)

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        if v >= 1 << (nbits - 1):
            v -= 1 << nbits
        return v

    def read_unary(self) -> int:
        """n zero bits terminated by a one -> n, consuming up to 24
        bits per window peek."""
        p = self.pos
        n = self.n
        w32 = self.w32
        count = 0
        while True:
            if p >= n:
                raise FlacFormatError("unary run truncated")
            avail = min(24, n - p)
            w = (w32[p >> 3] >> (32 - (p & 7) - avail)) & ((1 << avail) - 1)
            if w == 0:
                count += avail
                p += avail
                continue
            z = avail - w.bit_length()
            self.pos = p + z + 1
            return count + z

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.out.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, n: int) -> None:
        while n >= 32:
            self.write(0, 32)
            n -= 32
        self.write(1, n + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        if self.nbits:
            raise FlacFormatError("unaligned writer")
        return bytes(self.out)


# ---------------------------------------------------------------- CRCs


def _crc_table(poly: int, width: int) -> np.ndarray:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    tbl = np.zeros(256, dtype=np.int64)
    for b in range(256):
        r = b << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) if r & top else (r << 1)
        tbl[b] = r & mask
    return tbl


_CRC8_TBL = _crc_table(0x07, 8)
_CRC16_TBL = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = int(_CRC8_TBL[(c ^ b) & 0xFF])
    return c


def _crc16_naive(data: bytes, c: int = 0) -> int:
    for b in data:
        c = (int(_CRC16_TBL[((c >> 8) ^ b) & 0xFF]) ^ (c << 8)) & 0xFFFF
    return c


def _build_crc16_slices() -> list[list[int]]:
    """slice-by-8 tables: S[i][b] = CRC16 of byte b followed by i zero
    bytes. CRC is linear over GF(2), and after two shift steps the
    16-bit register is fully absorbed into the table indices, so eight
    bytes fold in one expression (4x fewer loop iterations than
    byte-at-a-time — the frame-integrity check was ~27% of decode
    wall)."""
    return [
        [_crc16_naive(bytes([b]) + b"\x00" * i) for b in range(256)]
        for i in range(8)
    ]


_CRC16_SLICES = _build_crc16_slices()


def _crc16(data: bytes) -> int:
    t0, t1, t2, t3, t4, t5, t6, t7 = _CRC16_SLICES
    c = 0
    n = len(data)
    m = n & ~7
    for i in range(0, m, 8):
        c = (
            t7[data[i] ^ (c >> 8)]
            ^ t6[data[i + 1] ^ (c & 0xFF)]
            ^ t5[data[i + 2]]
            ^ t4[data[i + 3]]
            ^ t3[data[i + 4]]
            ^ t2[data[i + 5]]
            ^ t1[data[i + 6]]
            ^ t0[data[i + 7]]
        )
    return _crc16_naive(data[m:], c)


# ------------------------------------------------------- frame number


def _utf8_read(br: _BitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        raise FlacFormatError("invalid UTF-8-coded number")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise FlacFormatError("invalid UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _utf8_write(bw: _BitWriter, v: int) -> None:
    if v < 0x80:
        bw.write(v, 8)
        return
    n = 1  # continuation bytes: lead byte carries 6 - n payload bits
    while v >= (1 << (6 * n + (6 - n))):
        n += 1
    lead = (0xFF << (7 - n)) & 0xFF
    bw.write(lead | (v >> (6 * n)), 8)
    for k in range(n - 1, -1, -1):
        bw.write(0x80 | ((v >> (6 * k)) & 0x3F), 8)


_BLOCKSIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}

_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}

_SAMPLE_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}


# -------------------------------------------------------------- decoder


def _rice_partition_vec(br: _BitReader, n: int, param: int) -> list[int]:
    """Decode ``n`` Rice(``param``) codes starting at ``br.pos`` —
    bitwise-identical to the scalar loop in ``_read_residual`` (pinned
    against it in tests/test_flac_codec.py), but resolved with numpy.

    A Rice code is q zero bits, a 1 terminator, then ``param`` raw
    remainder bits, so terminator i+1 is the FIRST 1 bit at position
    >= t_i + param + 1. Over the sorted 1-bit positions that successor
    is one vectorized searchsorted, and the terminator chain is its
    orbit, extracted by pointer doubling (out[f+i] = succ^f(out[i])) in
    O(log n) gathers instead of n Python loop iterations. Remainders
    are then one batched gather from the 32-bit window. ~5x the scalar
    loop on real partitions; truncation raises the same
    FlacFormatError messages at the same stream states."""
    k = param
    pos = br.pos
    bits_n = br.n
    ones = br.ones_positions()
    j0 = int(np.searchsorted(ones, pos, side="left"))
    # slice of candidate 1 bits: n terminators + ~n*k/2 expected 1s
    # inside remainder fields, doubled on the rare undershoot
    need = n + ((n * k) >> 1) + 64
    while True:
        js = ones[j0 : j0 + need].astype(np.int64, copy=False)
        m = js.size
        if m >= n:
            succ = np.searchsorted(js, js + (k + 1), side="left")
            succ = np.append(succ, m)  # sentinel: past-slice is a fixed point
            t_idx = np.empty(n, dtype=np.int64)
            t_idx[0] = 0
            filled = 1
            jump = succ
            while filled < n:
                take = min(filled, n - filled)
                t_idx[filled : filled + take] = jump[t_idx[:take]]
                filled += take
                if filled < n:
                    jump = jump[np.minimum(jump, m)]
            if int(t_idx[-1]) < m:
                t = js[t_idx]
                break
        if j0 + need >= ones.size:
            # no further 1 bits exist: the stream ends inside a unary run
            raise FlacFormatError("unary run truncated")
        need *= 2
    if k:
        if int(t[-1]) + 1 + k > bits_n:
            raise FlacFormatError("bitstream truncated")
        p1 = t + 1
        rem = (
            br._w32np[p1 >> 3] >> (np.uint32(32 - k) - (p1 & 7).astype(np.uint32))
        ).astype(np.int64) & ((1 << k) - 1)
    else:
        rem = 0
    starts = np.empty(n, dtype=np.int64)
    starts[0] = pos
    if n > 1:
        starts[1:] = t[:-1] + (k + 1)
    u = ((t - starts) << k) | rem
    br.pos = int(t[-1]) + k + 1
    return ((u >> 1) ^ -(u & 1)).tolist()


def _read_residual(br: _BitReader, block_size: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise FlacFormatError(f"reserved residual method {method}")
    pbits = 4 + method  # RICE (4-bit params) or RICE2 (5-bit)
    esc = (1 << pbits) - 1
    po = br.read(4)
    nparts = 1 << po
    if block_size % nparts:
        raise FlacFormatError("partition count does not divide block size")
    out: list[int] = []
    # the rice loop is the decoder's hot path (one unary + one field read
    # PER SAMPLE): inlined as local-int window arithmetic — method-call
    # overhead alone was ~45% of decode_flac's wall (profiled)
    w32 = br.w32
    bits_n = br.n
    append = out.append
    for p in range(nparts):
        n = (block_size >> po) - (order if p == 0 else 0)
        if n < 0:
            raise FlacFormatError("predictor order exceeds first partition")
        param = br.read(pbits)
        if param == esc:
            raw = br.read(5)
            for _ in range(n):
                append(br.read_signed(raw) if raw else 0)
        elif param > 25:
            # RICE2 params 26-30 overflow the 32-bit window at offset 7;
            # rare — keep the method-call path
            for _ in range(n):
                q = br.read_unary()
                u = (q << param) | br.read(param)
                append((u >> 1) ^ -(u & 1))
        elif n >= 48:
            # vectorized terminator-chain decode (bitwise-identical to
            # the scalar loop below; pinned in tests/test_flac_codec.py)
            out.extend(_rice_partition_vec(br, n, param))
        else:
            pos = br.pos
            mask = (1 << param) - 1
            for _ in range(n):
                q = 0
                while True:
                    if pos >= bits_n:
                        raise FlacFormatError("unary run truncated")
                    avail = bits_n - pos
                    if avail > 24:
                        avail = 24
                    w = (w32[pos >> 3] >> (32 - (pos & 7) - avail)) & (
                        (1 << avail) - 1
                    )
                    if w == 0:
                        q += avail
                        pos += avail
                        continue
                    z = avail - w.bit_length()
                    pos += z + 1
                    q += z
                    break
                if param:
                    if pos + param > bits_n:
                        raise FlacFormatError("bitstream truncated")
                    u = (q << param) | (
                        (w32[pos >> 3] >> (32 - (pos & 7) - param)) & mask
                    )
                    pos += param
                else:
                    u = q
                append((u >> 1) ^ -(u & 1))
            br.pos = pos
    return out


def _read_subframe(br: _BitReader, block_size: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise FlacFormatError("subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.read_unary()
    eff = bps - wasted
    if eff <= 0:
        raise FlacFormatError("wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        v = br.read_signed(eff)
        samples = np.full(block_size, v, dtype=np.int64)
    elif stype == 1:  # VERBATIM
        samples = np.array(
            [br.read_signed(eff) for _ in range(block_size)], dtype=np.int64
        )
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        warm = np.array(
            [br.read_signed(eff) for _ in range(order)], dtype=np.int64
        )
        res = _read_residual(br, block_size, order)
        # FIXED order k predicts the k-th difference, so reconstruction
        # is k iterated cumulative sums seeded from the warm-up values —
        # vectorized instead of a per-sample Python recursion
        seq = np.array(res, dtype=np.int64)
        for j in range(order, 0, -1):
            init = np.diff(warm, n=j - 1)[order - j] if order else 0
            seq = init + np.cumsum(seq)
        samples = np.concatenate([warm, seq]) if order else seq
    elif stype >= 32:  # LPC, order = stype - 31
        order = stype - 31
        warm = [br.read_signed(eff) for _ in range(order)]
        precision = br.read(4)
        if precision == 15:
            raise FlacFormatError("invalid LPC precision")
        precision += 1
        shift = br.read_signed(5)
        if shift < 0:
            raise FlacFormatError("negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _read_residual(br, block_size, order)
        buf = list(warm)
        for r in res:
            pred = sum(c * buf[-i - 1] for i, c in enumerate(coefs)) >> shift
            buf.append(pred + r)
        samples = np.array(buf, dtype=np.int64)
    else:
        raise FlacFormatError(f"reserved subframe type {stype}")
    return samples << wasted


def decode_flac(payload: bytes) -> tuple[np.ndarray, int]:
    """FLAC bytes -> ((n, channels) int32 samples, sample_rate)."""
    data = bytes(payload)
    if not is_flac(data):
        raise FlacFormatError("bad fLaC signature")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise FlacFormatError("metadata truncated")
        hdr = data[pos]
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        btype = hdr & 0x7F
        body = data[pos + 4 : pos + 4 + blen]
        if len(body) < blen:
            raise FlacFormatError("metadata block truncated")
        if btype == 0:
            if blen != 34:
                raise FlacFormatError("STREAMINFO must be 34 bytes")
            streaminfo = body
        pos += 4 + blen
        if hdr & 0x80:
            break
    if streaminfo is None:
        raise FlacFormatError("missing STREAMINFO")
    si = _BitReader(streaminfo)
    si.read(16)  # min block size
    si.read(16)  # max block size
    si.read(24)  # min frame size
    si.read(24)  # max frame size
    rate = si.read(20)
    nchan = si.read(3) + 1
    bps = si.read(5) + 1
    total = si.read(36)
    if rate == 0:
        raise FlacFormatError("zero sample rate")
    if total > _MAX_SAMPLES:
        raise FlacFormatError("declared total exceeds bomb guard")
    # per-channel lists of per-frame int64 arrays (concatenated once at
    # the end — extending python-int lists per sample was ~20% of wall)
    chans: list[list[np.ndarray]] = [[] for _ in range(nchan)]
    got = 0
    # ONE reader over the whole payload: per-frame we just set the
    # absolute bit position (rebuilding the window table per frame was
    # O(frames x bytes))
    br = _BitReader(data)
    while pos < len(data) and (total == 0 or got < total):
        frame_start = pos
        br.pos = pos * 8
        sync = br.read(14)
        if sync != 0x3FFE:
            raise FlacFormatError(f"bad frame sync at {pos}")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)  # reserved
        _utf8_read(br)  # frame/sample number
        if bs_code == 0:
            raise FlacFormatError("reserved block size code")
        elif bs_code == 6:
            block_size = br.read(8) + 1
        elif bs_code == 7:
            block_size = br.read(16) + 1
        else:
            block_size = _BLOCKSIZES[bs_code]
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        elif sr_code == 15:
            raise FlacFormatError("invalid sample rate code")
        elif sr_code != 0 and sr_code in _SAMPLE_RATES:
            pass
        if ss_code == 0:
            fbps = bps
        elif ss_code in _SAMPLE_SIZES:
            fbps = _SAMPLE_SIZES[ss_code]
        else:
            raise FlacFormatError(f"reserved sample size code {ss_code}")
        hdr_len = (br.pos + 7) // 8 - frame_start
        crc8_got = br.read(8)
        if _crc8(data[pos : pos + hdr_len]) != crc8_got:
            raise FlacFormatError("frame header CRC-8 mismatch")
        if got + block_size > _MAX_SAMPLES:
            raise FlacFormatError("sample count exceeds bomb guard")
        if ch_code < 8:
            fchan = ch_code + 1
            if fchan != nchan:
                raise FlacFormatError("frame channel count disagrees")
            subs = [
                _read_subframe(br, block_size, fbps) for _ in range(fchan)
            ]
        elif ch_code in (8, 9, 10):
            if nchan != 2:
                raise FlacFormatError("stereo decorrelation in non-stereo stream")
            # the SIDE channel carries one extra bit
            if ch_code == 8:  # left/side
                left = _read_subframe(br, block_size, fbps)
                side = _read_subframe(br, block_size, fbps + 1)
                subs = [left, left - side]
            elif ch_code == 9:  # right/side
                side = _read_subframe(br, block_size, fbps + 1)
                right = _read_subframe(br, block_size, fbps)
                subs = [right + side, right]
            else:  # mid/side
                mid = _read_subframe(br, block_size, fbps)
                side = _read_subframe(br, block_size, fbps + 1)
                m2 = (mid << 1) | (side & 1)
                subs = [(m2 + side) >> 1, (m2 - side) >> 1]
        else:
            raise FlacFormatError(f"reserved channel assignment {ch_code}")
        br.align()
        crc16_got = br.read(16)
        frame_len = br.pos // 8 - frame_start
        if _crc16(data[pos : pos + frame_len - 2]) != crc16_got:
            raise FlacFormatError("frame CRC-16 mismatch")
        for c in range(nchan):
            chans[c].append(np.asarray(subs[c], dtype=np.int64))
        got += block_size
        pos = frame_start + frame_len
    if total and got < total:
        raise FlacFormatError(f"stream ended early: {got}/{total} samples")
    out = np.stack(
        [np.concatenate(c) if c else np.zeros(0, dtype=np.int64) for c in chans],
        axis=1,
    )
    if total:
        out = out[:total]
    return out.astype(np.int32), rate


# -------------------------------------------------------------- encoder


def _write_residual(bw: _BitWriter, res: list[int], pbits: int = 4) -> None:
    # single partition (order 0), best rice parameter by exhaustive cost
    zig = [(abs(r) << 1) - (r < 0) for r in res]  # zigzag fold
    best_p, best_cost = 0, None
    for p in range(0, (1 << pbits) - 1):
        cost = sum((z >> p) + 1 + p for z in zig)
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
        if cost > 1 << 30:
            break
    bw.write(0, 2)  # RICE (4-bit params)
    bw.write(0, 4)  # partition order 0
    bw.write(best_p, pbits)
    for z in zig:
        bw.write_unary(z >> best_p)
        bw.write(z & ((1 << best_p) - 1), best_p)


def _encode_subframe(bw: _BitWriter, x: np.ndarray, bps: int) -> None:
    """Best-of FIXED orders 0-2 (or CONSTANT) for one channel block."""
    bw.write(0, 1)  # padding
    if np.all(x == x[0]):
        bw.write(0, 6)  # CONSTANT
        bw.write(0, 1)  # no wasted bits
        bw.write(int(x[0]) & ((1 << bps) - 1), bps)
        return
    xs = x.astype(np.int64)
    best = (0, None)
    for order in (0, 1, 2):
        if len(xs) <= order:
            continue
        res = np.diff(xs, n=order) if order else xs
        cost = int(np.abs(res).sum())
        if best[1] is None or cost < best[1]:
            best = (order, cost)
    order = best[0]
    res = np.diff(xs, n=order) if order else xs
    bw.write(8 + order, 6)  # FIXED, order
    bw.write(0, 1)  # no wasted bits
    for v in xs[:order]:
        bw.write(int(v) & ((1 << bps) - 1), bps)
    _write_residual(bw, [int(v) for v in res], 4)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    mid_side: bool = False,
    stereo_mode: str | None = None,
) -> bytes:
    """(n,) or (n, 1|2) int16-range samples -> FLAC bytes (16-bit,
    4096-sample fixed blocks, FIXED predictors, single-partition Rice;
    ``stereo_mode`` in {'independent', 'mid_side', 'left_side',
    'right_side'} selects the decorrelation — every decoder channel
    assignment is round-trip reachable; ``mid_side=True`` is the legacy
    alias for stereo_mode='mid_side')."""
    x = np.asarray(samples, dtype=np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, nchan = x.shape
    if nchan not in (1, 2):
        raise FlacFormatError("encoder supports 1-2 channels")
    if n < 1:
        raise FlacFormatError("empty signal")
    if x.min() < -32768 or x.max() > 32767:
        raise FlacFormatError("encoder is 16-bit")
    if stereo_mode is None:
        stereo_mode = "mid_side" if mid_side else "independent"
    if stereo_mode not in ("independent", "mid_side", "left_side", "right_side"):
        raise FlacFormatError(f"unknown stereo_mode {stereo_mode!r}")
    if stereo_mode != "independent" and nchan != 2:
        raise FlacFormatError("stereo decorrelation requires stereo input")
    bs = 4096
    # STREAMINFO
    si = _BitWriter()
    si.write(bs, 16)
    si.write(bs, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(nchan - 1, 3)
    si.write(15, 5)  # bps - 1
    si.write(n, 36)
    si.align()
    si_body = si.bytes() + bytes(16)  # zero MD5 (unset is allowed)
    out = [FLAC_MAGIC, bytes([0x80]) + len(si_body).to_bytes(3, "big") + si_body]
    for fno, start in enumerate(range(0, n, bs)):
        blk = x[start : start + bs]
        m = len(blk)
        bw = _BitWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)
        bw.write(0, 1)  # fixed blocksize strategy
        bw.write(7 if m != bs else 12, 4)  # 16-bit-at-end or 4096
        bw.write(0, 4)  # sample rate from STREAMINFO
        ch_code = {
            "independent": nchan - 1,
            "left_side": 8,
            "right_side": 9,
            "mid_side": 10,
        }[stereo_mode] if nchan == 2 else nchan - 1
        bw.write(ch_code, 4)
        bw.write(4, 3)  # 16-bit
        bw.write(0, 1)
        _utf8_write(bw, fno)
        if m != bs:
            bw.write(m - 1, 16)
        bw.align()
        hdr = bw.bytes()
        bw2 = _BitWriter()
        for b in hdr:
            bw2.write(b, 8)
        bw2.write(_crc8(hdr), 8)
        if nchan == 2 and stereo_mode != "independent":
            left = blk[:, 0]
            right = blk[:, 1]
            side = left - right
            if stereo_mode == "mid_side":
                _encode_subframe(bw2, (left + right) >> 1, 16)
                _encode_subframe(bw2, side, 17)
            elif stereo_mode == "left_side":
                _encode_subframe(bw2, left, 16)
                _encode_subframe(bw2, side, 17)
            else:  # right_side: side first, then right
                _encode_subframe(bw2, side, 17)
                _encode_subframe(bw2, right, 16)
        else:
            for c in range(nchan):
                _encode_subframe(bw2, blk[:, c], 16)
        bw2.align()
        body = bw2.bytes()
        frame = body + _crc16(body).to_bytes(2, "big")
        out.append(frame)
    return b"".join(out)
