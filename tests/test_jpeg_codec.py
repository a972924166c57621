"""Baseline JPEG codec (functions/jpeg_codec.py) — dependency-free.

No external JPEG tool exists in this container (no Pillow/djpeg/ffmpeg),
so the contract is pinned the same way test_png_codec.py pins PNG:
round-trip properties at multiple qualities/shapes, exactness where the
math says exact (constant blocks quantize to DC-only), structure checks
on the emitted JFIF markers, error paths, and a hand-built 4:2:0 +
16-bit-DQT file to exercise decoder paths the encoder never emits.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from web_template_forensics_spark.functions.jpeg_codec import (
    JPEG_SOI,
    JpegFormatError,
    decode_jpeg,
    encode_jpeg,
    quant_tables_for_quality,
)


def _err(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.abs(a.astype(int) - b.astype(int)).mean())


def test_constant_image_round_trips_exactly():
    # a constant block is pure DC; quantized DC reconstructs the exact
    # level (the DCT of a constant has one coefficient, and round() of
    # value/q times q recovers it to within the clip)
    for level in (0, 77, 120, 255):
        img = np.full((16, 24, 3), level, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=90))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - level).max() <= 1


def test_gradient_high_quality_tight_error():
    y, x = np.mgrid[0:33, 0:41]
    img = np.stack(
        [(x * 5) % 256, (y * 3) % 256, ((x + y) * 2) % 256], axis=-1
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == img.shape  # non-multiple-of-8 dims crop exactly
    assert _err(out, img) < 1.0
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 4


def test_greyscale_single_component():
    y, x = np.mgrid[0:21, 0:19]
    g = ((y * 7 + x * 3) % 256).astype(np.uint8)
    data = encode_jpeg(g, quality=92)
    out = decode_jpeg(data)
    assert out.ndim == 2 and out.shape == g.shape
    assert _err(out, g) < 1.5
    # grey stream carries exactly one DQT table and two DHT tables
    assert data.count(b"\xff\xdb") == 1
    assert data.count(b"\xff\xc4") == 2


def test_quality_monotonicity_and_size():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (32, 32, 3), dtype=np.uint8)
    e90 = _err(decode_jpeg(encode_jpeg(img, quality=90)), img)
    e30 = _err(decode_jpeg(encode_jpeg(img, quality=30)), img)
    assert e90 < e30  # higher quality, lower error
    assert len(encode_jpeg(img, quality=30)) < len(encode_jpeg(img, quality=90))


def test_restart_interval_bitstream_equivalence():
    y, x = np.mgrid[0:40, 0:40]
    img = np.stack([(x * 3) % 256, (y * 5) % 256, (x + y) % 256], axis=-1).astype(
        np.uint8
    )
    plain = decode_jpeg(encode_jpeg(img, quality=88))
    with_rst = encode_jpeg(img, quality=88, restart_interval=3)
    assert b"\xff\xdd" in with_rst  # DRI present
    assert any(bytes([0xFF, 0xD0 + i]) in with_rst for i in range(8))
    assert np.array_equal(decode_jpeg(with_rst), plain)


def test_marker_structure():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    data = encode_jpeg(img)
    assert data[:2] == JPEG_SOI and data[-2:] == b"\xff\xd9"
    assert data[2:4] == b"\xff\xe0" and data[6:11] == b"JFIF\x00"
    # SOF0 dimensions on the wire
    i = data.index(b"\xff\xc0")
    prec, h, w, ncomp = struct.unpack(">BHHB", data[i + 4 : i + 10])
    assert (prec, h, w, ncomp) == (8, 8, 8, 3)


def test_error_paths():
    with pytest.raises(JpegFormatError):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")  # not a JPEG
    img = np.zeros((8, 8), dtype=np.uint8)
    data = encode_jpeg(img)
    with pytest.raises(JpegFormatError):
        decode_jpeg(data[:40])  # truncated before scan
    # flip SOF0 -> SOF2: the stream is now CLAIMED progressive but keeps
    # its baseline interleaved scan header (ss=0, se=63) — a typed scan-
    # header error, since real progressive decodes for real now
    i = data.index(b"\xff\xc0")
    with pytest.raises(JpegFormatError, match="se=0"):
        decode_jpeg(data[:i] + b"\xff\xc2" + data[i + 2 :])
    # SOF3 (lossless) stays an explicit unsupported process
    with pytest.raises(JpegFormatError, match="unsupported JPEG process"):
        decode_jpeg(data[:i] + b"\xff\xc3" + data[i + 2 :])
    with pytest.raises(JpegFormatError):
        encode_jpeg(np.zeros((0, 4), dtype=np.uint8))
    with pytest.raises(JpegFormatError):
        encode_jpeg(np.zeros((4, 4, 3), dtype=np.float64))


def test_quality_table_formula():
    ql50, qc50 = quant_tables_for_quality(50)
    assert ql50[0, 0] == 16 and qc50[0, 0] == 17  # scale 100 = identity
    ql100, _ = quant_tables_for_quality(100)
    assert ql100.max() == 1  # lossless-ish ceiling
    ql1, _ = quant_tables_for_quality(1)
    assert ql1.max() == 255  # clipped


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    grey=st.booleans(),
)
def test_round_trip_property(h, w, seed, grey):
    rng = np.random.RandomState(seed)
    shape = (h, w) if grey else (h, w, 3)
    # smooth-ish content (random low-res upsampled) keeps the error
    # bound meaningful; pure noise is the known JPEG worst case
    base = rng.randint(0, 256, (max(1, h // 4), max(1, w // 4)) + shape[2:])
    ys = (np.arange(h) * base.shape[0] // h).clip(0, base.shape[0] - 1)
    xs = (np.arange(w) * base.shape[1] // w).clip(0, base.shape[1] - 1)
    img = base[ys[:, None], xs[None, :]].astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=93))
    assert out.shape == img.shape and out.dtype == np.uint8
    assert _err(out, img) < 12.0


def test_decode_image_real_jpeg_path():
    """decode_image routes JPEG payloads to the real codec."""
    from web_template_forensics_spark.operators.multimodal import decode_image

    y, x = np.mgrid[0:20, 0:24]
    img = np.stack([(x * 9) % 256, (y * 4) % 256, (x * y) % 256], axis=-1).astype(
        np.uint8
    )
    data = encode_jpeg(img, quality=95)
    out = decode_image(data)
    assert out.shape == img.shape and _err(out, img) < 1.5
    # greyscale scan normalizes to 3 identical channels
    g = ((y * 5 + x) % 256).astype(np.uint8)
    out = decode_image(encode_jpeg(g, quality=95))
    assert out.shape == (20, 24, 3)
    assert np.array_equal(out[:, :, 0], out[:, :, 2])


def test_media_features_real_jpeg_on_cluster(spark):
    """End-to-end through the byte-bounded mapInPandas operator with
    REAL JPEG payloads: features must equal the
    driver-side numpy computation on the decoded pixels."""
    from web_template_forensics_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    rng = np.random.RandomState(9)
    imgs, rows = [], []
    for i in range(5):
        base = rng.randint(0, 256, (4 + i, 5, 3))
        h, w = 13 + i, 17 + i
        ys = (np.arange(h) * base.shape[0] // h).clip(0, base.shape[0] - 1)
        xs = (np.arange(w) * base.shape[1] // w).clip(0, base.shape[1] - 1)
        img = base[ys[:, None], xs[None, :]].astype(np.uint8)
        imgs.append(img)
        rows.append(
            (
                i,
                "image",
                encode_jpeg(img, quality=80 + 4 * i),
                {"width": w, "height": h, "sample_rate": None,
                 "duration_ms": None, "codec": "jpeg"},
            )
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = (
        extract_media_features(media)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )
    assert len(feats) == len(imgs)
    for i, (img, row) in enumerate(zip(imgs, rows)):
        decoded = decode_jpeg(bytes(row[2]))
        want = np.histogram(decoded, bins=8, range=(0, 255))[0].astype(np.float64)
        want = want / max(1.0, want.sum())
        np.testing.assert_allclose(
            np.array(feats.loc[i, "feat"]), want.astype(np.float32), rtol=1e-6
        )


def test_decoder_handles_420_and_16bit_dqt():
    """Hand-built stream exercising decoder paths our encoder never
    emits: 2x2 luma sampling (4:2:0 MCUs, replication upsample) and a
    16-bit-precision DQT. Built from the codec's own primitives; the
    image is constant so the expected output is exact."""
    from web_template_forensics_spark.functions import jpeg_codec as J

    h = w = 16  # one 4:2:0 MCU
    level = 90
    qt = np.ones((8, 8), dtype=np.int64)

    dc = J._canonical_codes(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    ac = J._canonical_codes(J.AC_LUMA_BITS, J.AC_LUMA_VALS)
    bw = J._BitWriter()

    def write_block(dc_val, pred):
        diff = dc_val - pred
        size = J._category(diff)
        code, length = dc[size]
        bw.write(code, length)
        if size:
            bw.write(J._mag_bits(diff, size), size)
        code, length = ac[0x00]  # EOB, DC-only block
        bw.write(code, length)
        return dc_val

    # Y plane: 4 blocks per MCU (2x2); Cb, Cr: 1 block each. Constant
    # image: DC = (level-128)*8 / q[0,0]; AC all zero.
    y_dc = int(round((level - 128.0) * 8.0))
    c_dc = 0  # neutral chroma (Cb=Cr=128)
    pred = 0
    for _ in range(4):
        pred = write_block(y_dc, pred)
    write_block(c_dc, 0)
    write_block(c_dc, 0)
    bw.flush()

    out = bytearray(J.JPEG_SOI)
    # 16-bit DQT (precision 1): big-endian u16 entries
    body = bytes([0x10]) + b"".join(
        struct.pack(">H", int(v)) for v in qt.reshape(-1)[J.ZIGZAG]
    )
    out += J._seg(0xDB, body)
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, 0x22, 0])  # Y: 2x2 sampling
    sof += bytes([2, 0x11, 0])
    sof += bytes([3, 0x11, 0])
    out += J._seg(0xC0, sof)
    out += J._seg(0xC4, bytes([0x00]) + bytes(J.DC_LUMA_BITS) + bytes(J.DC_LUMA_VALS))
    out += J._seg(0xC4, bytes([0x10]) + bytes(J.AC_LUMA_BITS) + bytes(J.AC_LUMA_VALS))
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    out += J._seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (16, 16, 3)
    assert np.abs(img.astype(int) - level).max() <= 1


def test_multi_scan_noninterleaved_roundtrip():
    """encode_jpeg(interleave=False) emits one scan per component (legal
    baseline multi-scan); decode must be bit-identical to the interleaved
    encoding of the same image — with and without restart markers."""
    rng = np.random.RandomState(8)
    img = rng.randint(0, 256, (24, 33, 3), dtype=np.uint8)
    for kw in ({}, {"restart_interval": 3}):
        a = decode_jpeg(encode_jpeg(img, quality=85, **kw))
        b = decode_jpeg(encode_jpeg(img, quality=85, interleave=False, **kw))
        assert (a == b).all()
    # the stream really has three SOS markers
    multi = encode_jpeg(img, quality=85, interleave=False)
    assert multi.count(b"\xff\xda") >= 3


def test_decoder_handles_420_multi_scan_noninterleaved():
    """Hand-built 4:2:0 stream with ONE SCAN PER COMPONENT: the luma
    scan walks its own ceil(cw/8) x ceil(ch/8) grid (3x2 here), NOT the
    MCU-padded frame grid (4x2) — the padding block column is never
    coded and must stay zero outside the crop. Constant image -> exact
    expected output."""
    from web_template_forensics_spark.functions import jpeg_codec as J

    h, w = 16, 24  # mcux=2, mcuy=1; luma sub-grid 3x2, frame grid 4x2
    level = 90
    qt = np.ones((8, 8), dtype=np.int64)

    dc = J._canonical_codes(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    ac = J._canonical_codes(J.AC_LUMA_BITS, J.AC_LUMA_VALS)

    def scan_bytes(dc_vals):
        bw = J._BitWriter()
        pred = 0
        for v in dc_vals:
            diff = v - pred
            pred = v
            size = J._category(diff)
            code, length = dc[size]
            bw.write(code, length)
            if size:
                bw.write(J._mag_bits(diff, size), size)
            code, length = ac[0x00]  # EOB
            bw.write(code, length)
        bw.flush()
        return bytes(bw.out)

    y_dc = int(round((level - 128.0) * 8.0))
    out = bytearray(J.JPEG_SOI)
    out += J._seg(
        0xDB,
        bytes([0x00]) + bytes(qt.reshape(-1)[J.ZIGZAG].astype(np.uint8)),
    )
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, 0x22, 0])  # Y: 2x2
    sof += bytes([2, 0x11, 0])
    sof += bytes([3, 0x11, 0])
    out += J._seg(0xC0, sof)
    out += J._seg(0xC4, bytes([0x00]) + bytes(J.DC_LUMA_BITS) + bytes(J.DC_LUMA_VALS))
    out += J._seg(0xC4, bytes([0x10]) + bytes(J.AC_LUMA_BITS) + bytes(J.AC_LUMA_VALS))
    # luma scan: 6 data units (3x2 sub-grid); chroma scans: 2 units each
    out += J._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])) + scan_bytes([y_dc] * 6)
    out += J._seg(0xDA, bytes([1, 2, 0x00, 0, 63, 0])) + scan_bytes([0, 0])
    out += J._seg(0xDA, bytes([1, 3, 0x00, 0, 63, 0])) + scan_bytes([0, 0])
    out += b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (16, 24, 3)
    assert np.abs(img.astype(int) - level).max() <= 1


def test_duplicate_component_scan_rejected():
    img = np.random.RandomState(5).randint(0, 256, (16, 16, 3), dtype=np.uint8)
    e = encode_jpeg(img, quality=85, interleave=False)
    # duplicate the first single-component scan's SOS: component 1 twice
    idx = e.find(b"\xff\xda")
    with pytest.raises(JpegFormatError, match="scanned twice"):
        decode_jpeg(e[:idx] + e[idx : e.find(b"\xff\xda", idx + 2)] * 2 + e[e.find(b"\xff\xda", idx + 2) :])


def test_missing_component_scan_rejected():
    """A stream ending after only the luma scan must raise (previously
    this shape silently produced a chroma-zeroed image)."""
    img = np.random.RandomState(6).randint(0, 256, (16, 16, 3), dtype=np.uint8)
    e = encode_jpeg(img, quality=85, interleave=False)
    first = e.find(b"\xff\xda")
    second = e.find(b"\xff\xda", first + 2)
    with pytest.raises(JpegFormatError, match="missing scans"):
        decode_jpeg(e[:second] + b"\xff\xd9")


# -------------------------------------------------------- progressive JPEG


@pytest.mark.parametrize("quality", [60, 85, 95])
@pytest.mark.parametrize("shape", [(8, 8, 3), (24, 33, 3), (64, 48, 3), (16, 20)])
def test_progressive_roundtrip_bit_identical(quality, shape):
    """The progressive script codes exactly the same quantized
    coefficients as the sequential scan, so decode output must be
    BIT-IDENTICAL to the baseline encoding — across every DC/AC
    first/refine path the libjpeg-style script exercises."""
    rng = np.random.RandomState(quality + sum(shape))
    img = rng.randint(0, 256, shape, dtype=np.uint8)
    a = decode_jpeg(encode_jpeg(img, quality=quality))
    b = decode_jpeg(encode_jpeg(img, quality=quality, progressive=True))
    assert (a == b).all()


def test_progressive_stream_shape():
    img = np.random.RandomState(1).randint(0, 256, (24, 24, 3), dtype=np.uint8)
    e = encode_jpeg(img, quality=85, progressive=True)
    assert b"\xff\xc2" in e and b"\xff\xc0" not in e
    assert e.count(b"\xff\xda") == 10  # the 10-scan color script


def test_progressive_ac_first_eobn_run():
    """Hand-crafted AC-first scan using an EOBn (r=3) end-of-band run —
    our encoder emits only EOB0, so this decoder path needs a bespoke
    stream. 8 grey blocks, only block 0 has an AC coefficient; EOB3+0
    ends block 0 AND skips the remaining 7."""
    from web_template_forensics_spark.functions import jpeg_codec as J

    h, w = 8, 64  # 8 blocks in one row, grey
    out = bytearray(J.JPEG_SOI)
    qt = np.ones((8, 8), dtype=np.int64)
    out += J._seg(0xDB, bytes([0x00]) + bytes(qt.reshape(-1)[J.ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    out += J._seg(0xC2, sof)
    out += J._seg(0xC4, bytes([0x00]) + bytes(J.DC_LUMA_BITS) + bytes(J.DC_LUMA_VALS))
    # custom AC table: 0x03 (r=0,s=3), 0x30 (EOB3) as 2-bit codes 00, 01
    ac_bits = [0] * 16
    ac_bits[1] = 2
    out += J._seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes([0x03, 0x30]))
    # scan 1: DC first (al=0), all DC = 0 -> 8x category-0 symbols
    dc = J._canonical_codes(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    bw = J._BitWriter()
    for _ in range(8):
        code, length = dc[0]
        bw.write(code, length)
    bw.flush()
    out += J._seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + bytes(bw.out)
    # scan 2: AC first ss=1 se=63 al=0: block0 k=1 value 5, then EOB3(+0)
    bw = J._BitWriter()
    bw.write(0b00, 2)  # symbol 0x03
    bw.write(J._mag_bits(5, 3), 3)
    bw.write(0b01, 2)  # EOB3
    bw.write(0, 3)  # extension bits -> eobrun covers this + 7 more blocks
    bw.flush()
    out += J._seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + bytes(bw.out)
    out += b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (8, 64)
    # expected: block 0 is IDCT of zigzag [0, 5, 0, ...], others flat 128
    row = np.zeros(64, dtype=np.int64)
    row[1] = 5
    deq = row[J.UNZIGZAG].reshape(8, 8).astype(np.float64)
    want0 = np.clip(np.round(J._C.T @ deq @ J._C + 128.0), 0, 255).astype(np.uint8)
    assert (img[:, :8] == want0).all()
    assert (img[:, 8:] == 128).all()


def test_progressive_ac_refine_eobn_with_correction_bits():
    """Refinement EOBn run (r=1) carrying a correction bit for an
    already-nonzero coefficient INSIDE the run: block0 k=1 is 2
    (bit 0 at Al=0), block1 k=1 is 3 (bit 1). Exercises the
    refine-EOBn + rest-of-band correction path the EOB0-only encoder
    never produces."""
    from web_template_forensics_spark.functions import jpeg_codec as J

    h, w = 8, 16  # two grey blocks
    out = bytearray(J.JPEG_SOI)
    qt = np.ones((8, 8), dtype=np.int64)
    out += J._seg(0xDB, bytes([0x00]) + bytes(qt.reshape(-1)[J.ZIGZAG].astype(np.uint8)))
    out += J._seg(0xC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += J._seg(0xC4, bytes([0x00]) + bytes(J.DC_LUMA_BITS) + bytes(J.DC_LUMA_VALS))
    # custom AC table: 0x01 (r=0,s=1), 0x00 (EOB0), 0x10 (EOB1): 2-bit codes
    ac_bits = [0] * 16
    ac_bits[1] = 3
    out += J._seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes([0x01, 0x00, 0x10]))
    dc = J._canonical_codes(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    bw = J._BitWriter()
    for _ in range(2):
        code, length = dc[0]
        bw.write(code, length)
    bw.flush()
    out += J._seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + bytes(bw.out)
    # AC first at Al=1: both blocks code k=1 as +1 (2>>1, 3>>1)
    bw = J._BitWriter()
    for _ in range(2):
        bw.write(0b00, 2)  # 0x01: r=0, s=1
        bw.write(1, 1)  # magnitude bits of +1
        bw.write(0b01, 2)  # EOB0
    bw.flush()
    out += J._seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01])) + bytes(bw.out)
    # AC refine ah=1 al=0: EOB1 + ext bit 0 -> eobrun=2 covers both blocks;
    # correction bits: block0 k=1 -> 0 (2&1), block1 k=1 -> 1 (3&1)
    bw = J._BitWriter()
    bw.write(0b10, 2)  # EOB1
    bw.write(0, 1)  # extension bit
    bw.write(0, 1)  # correction bit block0 k=1
    bw.write(1, 1)  # correction bit block1 k=1
    bw.flush()
    out += J._seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10])) + bytes(bw.out)
    out += b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (8, 16)
    for b, val in ((0, 2), (1, 3)):
        row = np.zeros(64, dtype=np.int64)
        row[1] = val
        deq = row[J.UNZIGZAG].reshape(8, 8).astype(np.float64)
        want = np.clip(np.round(J._C.T @ deq @ J._C + 128.0), 0, 255).astype(np.uint8)
        assert (img[:, b * 8 : (b + 1) * 8] == want).all(), b


def test_progressive_error_paths():
    img = np.random.RandomState(2).randint(0, 256, (16, 16, 3), dtype=np.uint8)
    e = encode_jpeg(img, quality=85, progressive=True)
    # truncating away the DC-refine + later scans leaves a DECODABLE
    # coarse image (progressive property) as long as DC-first ran;
    # cutting before ANY scan of a component -> typed missing-scans
    first_sos = e.find(b"\xff\xda")
    with pytest.raises(JpegFormatError, match="missing scans|no SOS"):
        decode_jpeg(e[:first_sos] + b"\xff\xd9")
    with pytest.raises(JpegFormatError):
        encode_jpeg(img, progressive=True, restart_interval=2)


def test_progressive_truncated_script_still_decodes_coarse():
    """A progressive stream cut after the first few scans (plus EOI) is
    a legal coarse rendering — decode must succeed and be close to the
    full image, exactly the behavior browsers rely on."""
    y, x = np.mgrid[0:24, 0:24]
    img = np.stack([(x * 6) % 256, (y * 4) % 256, (x + y) % 256], axis=-1).astype(
        np.uint8
    )
    e = encode_jpeg(img, quality=85, progressive=True)
    # keep scans 1..4 (DC first + Y 1-5 + Cb + Cr), drop the rest
    idx = [i for i in range(len(e) - 1) if e[i] == 0xFF and e[i + 1] == 0xDA]
    coarse = decode_jpeg(e[: idx[4]] + b"\xff\xd9")
    full = decode_jpeg(e)
    assert coarse.shape == full.shape
    # the first passes carry DC + low-frequency AC: on smooth content the
    # coarse rendering is already close to the final image
    assert np.abs(coarse.astype(int) - full.astype(int)).mean() < 16
