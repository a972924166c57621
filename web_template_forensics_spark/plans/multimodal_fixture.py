"""Deterministic mixed PNG/JPEG fixture corpus for the multimodal
CORRECTNESS query (round 5).

The multimodal operator surface (operators/multimodal.py, mirroring the
reference's binary-asset handling gap — the reference repo has no image
path, see SURVEY.md §2 multimodal graft) gained REAL codecs this round:
PNG (functions/png_codec.py) and baseline JPEG (functions/jpeg_codec.py).
This module provides the fixture corpus and the Spark-free expected-value
twin that put ``extract_media_features`` under the driver's DuckDB
oracle gate:

* ``fixture_corpus()`` — a seeded, fully deterministic set covering all
  three modalities: images (greyscale / grey+alpha / RGB / RGBA PNG
  across all five scanline filters, plus Adam7-interlaced, 16-bit and
  1/2/4-bit-depth grey/palette variants; greyscale + RGB JPEG across
  quality levels, non-multiple-of-8 sizes, restart intervals, and the
  progressive + non-interleaved multi-scan layouts), audio (RIFF/WAVE
  PCM 8/16/24/32-bit and IEEE-float 32/64-bit, mono/stereo), and video
  (Motion JPEG streams, including one longer than the operator's
  frame-sampling cap and one of progressive frames), all encoded to
  real container bytes by the package's own encoders or minimal
  in-module writers for the decode-only formats.

* ``expected_feature_micros(row)`` — the INDEPENDENT recomputation of
  the operator's features, micro-quantized to exact integers so the
  cross-engine compare is bitwise:

  - PNG rows: computed from the ORIGINAL pre-encoding pixel array
    (PNG is lossless, so this validates the decoder + the distributed
    mapInPandas path end-to-end without ever calling ``decode_png``).
  - WAV rows: computed from the ORIGINAL pre-encoding samples (PCM is
    lossless — 8-bit specs generate on the 8-bit grid — so this
    validates ``decode_wav`` end-to-end without calling it).
  - JPEG and MJPEG rows: computed by a driver-side (Spark-free) decode
    of the payload. JPEG is lossy so the original pixels cannot
    predict the decoded statistics; this leg pins the DISTRIBUTED path
    (Arrow round-trip, byte-bounded rebatching, schema) against the
    local computation, plus full determinism of the codec. The codecs
    themselves are validated against encoder round-trips and pinned
    golden vectors in tests/test_jpeg_codec.py and
    tests/test_wav_mjpeg.py.

Quantization contract (see oracle-determinization memory/recipes): the
operator emits float32; ``float(np.float32)`` widens exactly to the
IEEE double Spark sees, and ``floor(x * 1e6 + 0.5)`` over doubles is
deterministic across the JVM and CPython, so both faces agree bit-for-
bit on the micro integers.
"""

from __future__ import annotations

import hashlib
import math
import zlib

import numpy as np

import struct

from ..functions.jpeg_codec import decode_jpeg, encode_jpeg, encode_mjpeg
from ..functions.png_codec import PNG_SIGNATURE, _chunk as _png_chunk, encode_png
from ..functions.wav_codec import encode_wav
from ..operators.dedup import AUDIO_HAMMING, IMAGE_HAMMING, VIDEO_HAMMING

FIXTURE_SEED = 20250817

# (channels, h, w, png filter_type) — channels 1/2/3/4 exercise the
# grey / grey+alpha / RGB / RGBA normalization branches of decode_image;
# filter types cover all five PNG scanline filters.
_PNG_SPECS = [
    (1, 17, 23, 0),
    (2, 12, 12, 1),
    (3, 24, 32, 2),
    (4, 9, 31, 3),
    (3, 16, 16, 4),
    (1, 8, 40, 2),
]

# (grey?, h, w, quality, restart_interval) — odd sizes exercise the
# encoder's edge-replication pad + decoder crop; restart intervals
# exercise RSTn resync; the quality sweep exercises quant-table scaling.
_JPEG_SPECS = [
    (True, 24, 24, 85, 0),
    (False, 24, 32, 90, 0),
    (False, 19, 27, 75, 2),
    (True, 33, 15, 95, 3),
    (False, 40, 40, 60, 0),
    (False, 8, 8, 100, 1),
]

# (channels, n_samples, sample_rate, bits) — 8-bit specs generate on the
# 8-bit grid so the narrow is lossless and expectations stay independent.
_WAV_SPECS = [
    (1, 800, 16000, 16),
    (2, 500, 8000, 16),
    (1, 333, 22050, 8),
    (2, 256, 44100, 8),
]

# (n_frames, h, w, quality) — the 10-frame spec exceeds the operator's
# VIDEO_FEATURE_FRAMES cap, exercising the evenly-spaced frame sampling.
_MJPEG_SPECS = [
    (4, 16, 16, 90),
    (10, 12, 20, 80),
]


def _png_16bit(img: np.ndarray) -> bytes:
    """8-bit truth upsampled to a 16-bit PNG via v*257 (the exact inverse
    of the decoder's high-byte downsample), filter 0."""
    h, w = img.shape[:2]
    ch = 1 if img.ndim == 2 else img.shape[2]
    colour = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    u16 = (img.reshape(h, w * ch).astype(np.uint16) * 257).astype(">u2")
    raw = b"".join(b"\x00" + u16[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 16, colour, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _png_low_depth(vals: np.ndarray, depth: int, palette: np.ndarray | None) -> bytes:
    """1/2/4-bit grey (palette=None) or palette PNG, filter 0, MSB-first
    bit packing."""
    h, w = vals.shape
    per_byte = 8 // depth
    raw = b""
    for y in range(h):
        v = vals[y]
        pad = (-len(v)) % per_byte
        v = np.concatenate([v, np.zeros(pad, dtype=v.dtype)])
        byts = np.zeros(len(v) // per_byte, dtype=np.uint8)
        for j in range(per_byte):
            byts |= v[j::per_byte].astype(np.uint8) << (8 - depth * (j + 1))
        raw += b"\x00" + byts.tobytes()
    colour = 0 if palette is None else 3
    ihdr = struct.pack(">IIBBBBB", w, h, depth, colour, 0, 0, 0)
    png = PNG_SIGNATURE + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        png += _png_chunk(b"PLTE", palette.tobytes())
    return (
        png
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _wav_raw(tag: int, bits: int, data: bytes, ch: int, rate: int) -> bytes:
    """Manual RIFF/WAVE writer for the decode-only formats (float,
    24/32-bit PCM) the package encoder doesn't emit."""
    block = (bits // 8) * ch
    fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * block, block, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _normalize_rgb(img: np.ndarray) -> np.ndarray:
    """Replicates decode_image's channel normalization: -> (h, w, 3)."""
    if img.ndim == 2:
        return np.repeat(img[:, :, None], 3, axis=2)
    if img.shape[2] == 1:
        return np.repeat(img, 3, axis=2)
    if img.shape[2] == 2:  # grey + alpha: alpha dropped, grey replicated
        return np.repeat(img[:, :, :1], 3, axis=2)
    return np.ascontiguousarray(img[:, :, :3])


def _smooth_or_noise(rng: np.random.RandomState, shape: tuple, smooth: bool) -> np.ndarray:
    """Half the corpus is smooth gradients (JPEG's favorable case), half
    uniform noise (its adversarial case) — both deterministic."""
    if not smooth:
        return rng.randint(0, 256, size=shape).astype(np.uint8)
    h, w = shape[:2]
    base = (
        np.linspace(0, 255, w, dtype=np.float64)[None, :]
        + np.linspace(0, 64, h, dtype=np.float64)[:, None]
    )
    img = np.clip(base % 256, 0, 255)
    if len(shape) == 3:
        chans = [np.clip(img + 13.0 * c, 0, 255) for c in range(shape[2])]
        img = np.stack(chans, axis=-1)
    return np.round(img).astype(np.uint8)


def fixture_corpus() -> list[dict]:
    """-> rows of {media_id, kind, codec, payload, expected_rgb|None,
    expected_samples|None}; ``expected_*`` carry the pre-encoding truth
    for the lossless codecs and are None for the lossy ones."""
    rng = np.random.RandomState(FIXTURE_SEED)
    rows: list[dict] = []
    mid = 0
    for i, (ch, h, w, ft) in enumerate(_PNG_SPECS):
        shape = (h, w) if ch == 1 else (h, w, ch)
        img = _smooth_or_noise(rng, shape, smooth=i % 2 == 1)
        rows.append(
            {
                "media_id": mid,
                "kind": "image",
                "codec": "png",
                "payload": encode_png(img, filter_type=ft),
                "expected_rgb": _normalize_rgb(img),
                "expected_samples": None,
            }
        )
        mid += 1
    for i, (grey, h, w, q, ri) in enumerate(_JPEG_SPECS):
        shape = (h, w) if grey else (h, w, 3)
        img = _smooth_or_noise(rng, shape, smooth=i % 2 == 0)
        rows.append(
            {
                "media_id": mid,
                "kind": "image",
                "codec": "jpeg",
                "payload": encode_jpeg(img, quality=q, restart_interval=ri),
                "expected_rgb": None,
                "expected_samples": None,
            }
        )
        mid += 1
    for ch, n, rate, bits in _WAV_SPECS:
        if bits == 16:
            samples = rng.randint(-32768, 32768, size=(n, ch)).astype(np.int16)
        else:
            samples = ((rng.randint(0, 256, size=(n, ch)) - 128) << 8).astype(
                np.int16
            )
        rows.append(
            {
                "media_id": mid,
                "kind": "audio",
                "codec": "wav",
                "payload": encode_wav(samples, rate, bits=bits),
                "expected_rgb": None,
                "expected_samples": samples,
            }
        )
        mid += 1
    for fi, (nf, h, w, q) in enumerate(_MJPEG_SPECS):
        frames = [
            _smooth_or_noise(rng, (h, w, 3), smooth=(fi + j) % 2 == 0)
            for j in range(nf)
        ]
        rows.append(
            {
                "media_id": mid,
                "kind": "video",
                "codec": "mjpeg",
                "payload": encode_mjpeg(frames, quality=q),
                "expected_rgb": None,
                "expected_samples": None,
            }
        )
        mid += 1

    # ---- variant coverage (late round 5): every decode path the codecs
    # gained after the base corpus — PNG Adam7/16-bit/low-depth, JPEG
    # progressive + non-interleaved multi-scan, WAV float/24/32-bit PCM,
    # and an MJPEG stream of progressive frames.
    def _img_row(codec: str, payload: bytes, truth: np.ndarray | None):
        nonlocal mid
        rows.append(
            {
                "media_id": mid,
                "kind": "image",
                "codec": codec,
                "payload": payload,
                "expected_rgb": None if truth is None else _normalize_rgb(truth),
                "expected_samples": None,
            }
        )
        mid += 1

    adam7 = _smooth_or_noise(rng, (13, 21, 3), smooth=False)
    _img_row("png", encode_png(adam7, filter_type=3, interlace=True), adam7)
    deep = _smooth_or_noise(rng, (11, 14, 3), smooth=True)
    _img_row("png", _png_16bit(deep), deep)  # high-byte downsample == truth
    g4 = rng.randint(0, 16, size=(10, 13)).astype(np.uint8)
    # decoder scales depth-4 grey to full range: v * 255 // 15 == v * 17
    _img_row("png", _png_low_depth(g4, 4, None), (g4 * 17).astype(np.uint8))
    pal = rng.randint(0, 256, size=(4, 3)).astype(np.uint8)
    idx2 = rng.randint(0, 4, size=(9, 8)).astype(np.uint8)
    _img_row("png", _png_low_depth(idx2, 2, pal), pal[idx2])
    prog = _smooth_or_noise(rng, (26, 35, 3), smooth=False)
    _img_row("jpeg", encode_jpeg(prog, quality=85, progressive=True), None)
    pg = _smooth_or_noise(rng, (21, 18), smooth=True)
    _img_row("jpeg", encode_jpeg(pg, quality=90, progressive=True), None)
    msc = _smooth_or_noise(rng, (17, 25, 3), smooth=False)
    _img_row("jpeg", encode_jpeg(msc, quality=80, interleave=False), None)

    # WAV decode-only formats, all generated on lossless grids so the
    # pre-encoding int16 truth predicts the decode exactly
    i16 = rng.randint(-32768, 32768, size=(400, 2)).astype(np.int16)
    f32 = (i16.astype(np.float64) / 32767.0).astype("<f4")
    rows.append(
        {
            "media_id": mid,
            "kind": "audio",
            "codec": "wav",
            "payload": _wav_raw(0x0003, 32, f32.tobytes(), 2, 16000),
            "expected_rgb": None,
            "expected_samples": i16,
        }
    )
    mid += 1
    i16b = rng.randint(-32768, 32768, size=(300, 1)).astype(np.int16)
    f64 = i16b.astype(np.float64) / 32767.0
    rows.append(
        {
            "media_id": mid,
            "kind": "audio",
            "codec": "wav",
            "payload": _wav_raw(0x0003, 64, f64.astype("<f8").tobytes(), 1, 8000),
            "expected_rgb": None,
            "expected_samples": i16b,
        }
    )
    mid += 1
    i16c = rng.randint(-32768, 32768, size=(256, 1)).astype(np.int16)
    d24 = b"".join(
        int(v << 8).to_bytes(3, "little", signed=True) for v in i16c[:, 0].tolist()
    )
    rows.append(
        {
            "media_id": mid,
            "kind": "audio",
            "codec": "wav",
            "payload": _wav_raw(0x0001, 24, d24, 1, 22050),
            "expected_rgb": None,
            "expected_samples": i16c,
        }
    )
    mid += 1
    i16d = rng.randint(-32768, 32768, size=(200, 2)).astype(np.int16)
    d32 = (i16d.astype(np.int32) << 16).astype("<i4").tobytes()
    rows.append(
        {
            "media_id": mid,
            "kind": "audio",
            "codec": "wav",
            "payload": _wav_raw(0x0001, 32, d32, 2, 44100),
            "expected_rgb": None,
            "expected_samples": i16d,
        }
    )
    mid += 1

    pframes = [
        _smooth_or_noise(rng, (16, 16, 3), smooth=j % 2 == 0) for j in range(5)
    ]
    rows.append(
        {
            "media_id": mid,
            "kind": "video",
            "codec": "mjpeg",
            "payload": b"".join(
                encode_jpeg(f, quality=85, progressive=True) for f in pframes
            ),
            "expected_rgb": None,
            "expected_samples": None,
        }
    )
    mid += 1

    # ---- GIF coverage (late round 5): lossless palettized image rows
    # (plain + interlaced; expected_rgb IS the truth), and an animated
    # GIF video row with transparency + restore-to-background disposal
    # so the compositor is under the gate too.
    from ..functions.gif_codec import encode_gif, encode_gif_animation

    gpal = rng.randint(0, 256, size=(48, 3)).astype(np.uint8)
    gimg = gpal[rng.randint(0, 48, size=(18, 23))]
    _img_row("gif", encode_gif(gimg), gimg)
    gimg2 = gpal[rng.randint(0, 48, size=(22, 15))]
    _img_row("gif", encode_gif(gimg2, interlace=True), gimg2)
    gframes = []
    for j in range(4):
        f = gpal[rng.randint(0, 48, size=(14, 17))]
        f[j : j + 3, :4] = (0, 0, 0)  # key-colored patch composites through
        gframes.append(f)
    rows.append(
        {
            "media_id": mid,
            "kind": "video",
            "codec": "gif",
            "payload": encode_gif_animation(
                gframes, transparent_key=(0, 0, 0), disposal=2
            ),
            "expected_rgb": None,
            "expected_samples": None,
        }
    )
    mid += 1

    # ---- WebP-lossless coverage (late round 5): every decoder path the
    # subset encoder can drive, truth = pre-encoding pixels (lossless).
    from ..functions.webp_codec import encode_webp

    wimg = _smooth_or_noise(rng, (15, 22, 3), smooth=False)
    _img_row("webp", encode_webp(wimg, use_lz77=True, cache_bits=5), wimg)
    wpal = gpal[rng.randint(0, 48, size=(13, 19))]
    _img_row("webp", encode_webp(wpal, palette=True), wpal)
    wsm = _smooth_or_noise(rng, (18, 14, 3), smooth=True)
    _img_row(
        "webp",
        encode_webp(wsm, predictor_mode=11, subtract_green=True),
        wsm,
    )
    _img_row("webp", encode_webp(wsm, color_transform=(9, 133, 250)), wsm)
    # FLAC audio rows (lossless -> pre-encoding samples ARE the truth,
    # the same leg style as PNG/WAV): mono fixed-predictor friendly
    # material + mid/side stereo noise
    from ..functions.flac_codec import encode_flac

    t = np.arange(900)
    fl1 = (9000 * np.sin(t / 40) + 2000 * np.sin(t / 7)).astype(np.int16)[:, None]
    rows.append(
        {
            "media_id": mid,
            "kind": "audio",
            "codec": "flac",
            "payload": encode_flac(fl1, 22050),
            "expected_rgb": None,
            "expected_samples": fl1,
        }
    )
    mid += 1
    fl2 = rng.randint(-32768, 32768, size=(700, 2)).astype(np.int16)
    rows.append(
        {
            "media_id": mid,
            "kind": "audio",
            "codec": "flac",
            "payload": encode_flac(fl2, 8000, mid_side=True),
            "expected_rgb": None,
            "expected_samples": fl2,
        }
    )
    mid += 1

    from ..functions.webp_codec import encode_webp_animation

    wframes = [_smooth_or_noise(rng, (12, 15, 3), smooth=j % 2 == 0) for j in range(3)]
    rows.append(
        {
            "media_id": mid,
            "kind": "video",
            "codec": "webp",
            "payload": encode_webp_animation(wframes, cache_bits=4),
            "expected_rgb": None,
            "expected_samples": None,
        }
    )
    mid += 1
    return rows


def _micro(v: float) -> int:
    # exact double arithmetic; identical to the Spark face's
    # floor(cast(x as double) * 1e6 + 0.5)
    return math.floor(float(v) * 1e6 + 0.5)


def expected_feature_micros(row: dict) -> tuple[list[int], list[int]]:
    """-> (f0..f7 micros, tm0..tm2 micros) — the twin of
    operators/multimodal._features_chunk, including the float32
    narrowing the operator's Arrow schema applies. Image/audio rows of
    the lossless codecs use the pre-encoding truth; JPEG/MJPEG rows use
    the Spark-free driver-side decode (see module docstring)."""
    if row["kind"] == "audio":
        # lossless PCM: expectations from the ORIGINAL samples — the
        # stats formulas are the operator's own pure function (the
        # independence is in never calling decode_wav)
        from ..operators.multimodal import audio_features

        feat, thumb = audio_features(row["expected_samples"])
    elif row["kind"] == "video":
        # driver-side twin of the operator's video branch (MJPEG frame
        # spans or animated-GIF compositing, dispatched on magic)
        from ..operators.multimodal import (
            VIDEO_FEATURE_FRAMES,
            _sampled_video_frames,
        )

        feats, means = [], []
        for img in _sampled_video_frames(bytes(row["payload"]), VIDEO_FEATURE_FRAMES):
            h = np.histogram(img, bins=8, range=(0, 255))[0].astype(np.float64)
            feats.append(h / max(1.0, h.sum()))
            means.append(img.reshape(-1, 3).mean(axis=0) / 255.0)
        feat, thumb = np.mean(feats, axis=0), np.mean(means, axis=0)
    else:
        if row["expected_rgb"] is not None:
            img = row["expected_rgb"]
        else:
            img = decode_jpeg(bytes(row["payload"]))
            if img.ndim == 2:
                img = np.repeat(img[:, :, None], 3, axis=2)
        thumb = img.reshape(-1, 3).mean(axis=0) / 255.0
        feat = np.histogram(img, bins=8, range=(0, 255))[0].astype(np.float64)
        feat = feat / max(1.0, feat.sum())
    f32 = np.asarray(feat).astype(np.float32)
    t32 = np.asarray(thumb, dtype=np.float32)
    return [_micro(v) for v in f32], [_micro(v) for v in t32]


def fixture_oracle_values_sql() -> str:
    """The DuckDB face: one VALUES row per fixture image with the pinned
    payload md5 (pins the ENCODER output bit-exactly), byte length, and
    micro-quantized expected features."""
    vals = []
    for row in fixture_corpus():
        payload = bytes(row["payload"])
        f, tm = expected_feature_micros(row)
        md5 = hashlib.md5(payload).hexdigest()
        cells = [str(row["media_id"]), f"'{row['codec']}'", f"'{md5}'", str(len(payload))]
        cells += [str(v) for v in f]
        cells += [str(v) for v in tm]
        vals.append("(" + ", ".join(cells) + ")")
    cols = (
        "media_id, codec, payload_md5, n_bytes, "
        + ", ".join(f"f{i}" for i in range(8))
        + ", tm0, tm1, tm2"
    )
    return (
        "SELECT * FROM (VALUES\n    "
        + ",\n    ".join(vals)
        + f"\n  ) AS t({cols})"
    )


# ---------------------------------------------------------------------------
# pHash near-dup fixture (round 5): the multimodal x dedup graft corpus
# ---------------------------------------------------------------------------

_PHASH_BASES = 16


def textured_image(rng: np.random.RandomState, h: int, w: int) -> np.ndarray:
    """A base-distinctive, JPEG-robust test image: a random full 8x8
    low-frequency DCT spectrum (so every coefficient the pHash block
    thresholds carries real signal — none sit at the flip-prone zero
    median), inverse-transformed and scaled to full range. Same-base
    re-encodes land at hamming <= 2 while distinct bases sit >= 20 on
    this package's codecs (measured; pinned in test_image_hash.py)."""
    n = 32
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    basis = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    basis[0] /= np.sqrt(2.0)
    spec = np.zeros((n, n))
    spec[:8, :8] = rng.normal(0.0, 1.0, (8, 8))
    spec[0, 0] = 0.0
    img32 = basis.T @ spec @ basis
    yi = (np.arange(h) * n // h).clip(0, n - 1)
    xi = (np.arange(w) * n // w).clip(0, n - 1)
    im = img32[yi[:, None], xi[None, :]]
    im = (im - im.min()) / max(im.ptp(), 1e-9) * 255.0
    return np.round(
        np.stack([np.clip(im + 7.0 * c, 0, 255) for c in range(3)], axis=-1)
    ).astype(np.uint8)


def phash_corpus() -> list[dict]:
    """Deterministic pHash gate corpus: 16 textured bases x 3 real
    encodings (PNG across filters, sequential JPEG q85, progressive
    JPEG q88), 2 grey-palettized CROSS-FORMAT bases x {PNG, JPEG q85,
    interlaced GIF, WebP-lossless}, + 2 corrupt payloads that the
    operator must DROP (a truncated PNG and a bare JPEG SOI over junk).
    Expected pairing: every within-base pair (3 per textured base, 6
    per cross-format base) at hamming <= 6, nothing across bases,
    nothing involving the corrupt rows."""
    rng = np.random.RandomState(FIXTURE_SEED + 4)
    rows: list[dict] = []
    mid = 0
    for b in range(_PHASH_BASES):
        img = textured_image(rng, 48 + (b % 3) * 8, 64 - (b % 2) * 8)
        for payload in (
            encode_png(img, filter_type=b % 5, interlace=b % 4 == 3),
            encode_jpeg(img, quality=85),
            encode_jpeg(img, quality=88, progressive=True),
        ):
            rows.append({"media_id": mid, "payload": payload, "base": b})
            mid += 1
    # cross-format bases (late r5): grey-palettized (<= 256 colors, so
    # losslessly GIF-encodable) — the same image as PNG, JPEG and
    # interlaced GIF must land in one near-dup cluster
    from ..functions.gif_codec import encode_gif
    from ..functions.webp_codec import encode_webp

    for b in (_PHASH_BASES, _PHASH_BASES + 1):
        img = np.repeat(
            textured_image(rng, 44 + (b % 2) * 8, 60)[:, :, :1], 3, axis=2
        )
        for payload in (
            encode_png(img, filter_type=b % 5),
            encode_jpeg(img, quality=85),
            encode_gif(img, interlace=True),
            encode_webp(img, subtract_green=True, cache_bits=4),
        ):
            rows.append({"media_id": mid, "payload": payload, "base": b})
            mid += 1
    rows.append(
        {"media_id": mid, "payload": b"\x89PNG\r\n\x1a\n" + b"\x00" * 16, "base": -1}
    )
    mid += 1
    rows.append({"media_id": mid, "payload": b"\xff\xd8\xffjunkjunk", "base": -1})
    return rows


def phash_corpus_hashes() -> list[tuple[int, int]]:
    """The Spark-free twin: (media_id, unsigned 64-bit pHash) for every
    DECODABLE corpus row, by driver-side decode + the same pure-numpy
    hash (bit-identical to the executor face by image_hash's
    determinism contract — the same cross-face discipline as
    fixture_oracle_values_sql). Corrupt rows are absent, which is the
    drop-policy pin."""
    from ..functions.image_hash import phash64
    from ..operators.multimodal import decode_image

    out = []
    for row in phash_corpus():
        try:
            img = decode_image(bytes(row["payload"]))
        except (ValueError, NotImplementedError):
            continue
        out.append((row["media_id"], phash64(img)))
    return out


def phash_oracle_sql() -> str:
    """DuckDB face of image_phash_pairs over the fixture corpus: the
    hashes are injected VALUES from the Spark-free twin; the banding
    (same lo/width formula as operators.dedup.hamming_band_pairs, in
    exact HUGEINT div/mod arithmetic), candidate equi-join, per-band
    Hamming sum and the radius filter are genuinely recomputed in SQL."""
    return _hamming_pairs_oracle_sql(phash_corpus_hashes(), IMAGE_HAMMING)


def _hamming_pairs_oracle_sql(
    hashes: list[tuple[int, int]], max_hamming: int, n_bands: int | None = None
) -> str:
    """Generic SQL recomputation of hamming_band_pairs over injected
    (id, unsigned-64-bit-hash) VALUES — shared by the pHash (image) and
    audio-fingerprint oracles."""
    if n_bands is None:
        n_bands = max_hamming + 1
    ph_vals = ",\n    ".join(
        f"({mid}, CAST('{h}' AS HUGEINT))" for mid, h in hashes
    )
    band_rows = []
    for b in range(n_bands):
        lo = 64 * b // n_bands
        width = 64 * (b + 1) // n_bands - lo
        band_rows.append(f"({b}, CAST('{1 << lo}' AS HUGEINT), CAST('{1 << width}' AS HUGEINT))")
    grid = ",\n    ".join(band_rows)
    return f"""
WITH ph(media_id, h) AS (VALUES
    {ph_vals}
), grid(band_no, lo_pow, width_pow) AS (VALUES
    {grid}
), bands AS (
  SELECT media_id, band_no,
         CAST((h // lo_pow) % width_pow AS BIGINT) AS band_val
  FROM ph CROSS JOIN grid
), cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM bands a
  JOIN bands b ON a.band_no = b.band_no AND a.band_val = b.band_val
   AND a.media_id < b.media_id
)
SELECT c.id_a, c.id_b,
       CAST(SUM(bit_count(xor(x.band_val, y.band_val))) AS INTEGER) AS hamming
FROM cand c
JOIN bands x ON x.media_id = c.id_a
JOIN bands y ON y.media_id = c.id_b AND y.band_no = x.band_no
GROUP BY c.id_a, c.id_b
HAVING SUM(bit_count(xor(x.band_val, y.band_val))) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# audio-fingerprint near-dup fixture (round 5): the audio x dedup graft
# ---------------------------------------------------------------------------

_AUDIO_FP_BASES = 12


def _base_clip(rng: np.random.RandomState, n: int, band_limited: bool) -> np.ndarray:
    """A base-distinctive clip as float64 at int16 scale: random complex
    spectrum (narrow [2, 48) for the band-limited half, full-band for the
    rest) inverse-rfft'd and normalized to 0.4 full scale — loud enough
    that dither and re-quantization stay far below the fingerprint's
    -30 dB band floor."""
    hi = 48 if band_limited else n // 2 - 10
    spec = np.zeros(n // 2 + 1, dtype=complex)
    spec[2:hi] = rng.normal(0, 1, hi - 2) + 1j * rng.normal(0, 1, hi - 2)
    x = np.fft.irfft(spec, n)
    return x / np.max(np.abs(x)) * 0.4 * 32767.0


def audio_fp_corpus() -> list[dict]:
    """Deterministic audio-fingerprint gate corpus: 12 base clips (half
    band-limited, half wideband) x 4 variants a pipeline must collapse —
    original 16-bit PCM, gain 0.6 (16-bit), gain 1.2 re-encoded as
    IEEE-float32, low-level dither re-encoded as 24-bit PCM; bases 10-11
    are CROSS-CONTAINER (original + gain-1.2 re-encoded as lossless
    FLAC) — plus one corrupt RIFF payload the operator must DROP. Expected pairing: the
    6 within-base pairs per base at hamming <= 8, nothing across bases."""
    rng = np.random.RandomState(FIXTURE_SEED + 5)
    rows: list[dict] = []
    mid = 0
    for b in range(_AUDIO_FP_BASES):
        n = 4096 + (b % 3) * 512
        x = _base_clip(rng, n, band_limited=b % 2 == 0)
        orig = np.round(x).astype(np.int16)
        g06 = np.round(x * 0.6).astype(np.int16)
        g12 = np.round(x * 1.2).astype(np.int16)
        dith = np.round(x + rng.uniform(-60.0, 60.0, n)).astype(np.int16)
        if b >= 10:
            # cross-container bases: the same clip as WAV and as FLAC
            # (lossless -> identical samples -> hamming 0) must collapse
            from ..functions.flac_codec import encode_flac

            variants = [
                encode_wav(orig, 16000),
                encode_wav(g06, 16000),
                encode_flac(orig, 16000, mid_side=False),
                encode_flac(g12, 16000),
            ]
        else:
            variants = [
                encode_wav(orig, 16000),
                encode_wav(g06, 16000),
                _wav_raw(
                    0x0003, 32, (g12.astype(np.float64) / 32767.0).astype("<f4").tobytes(), 1, 16000
                ),
                _wav_raw(
                    0x0001,
                    24,
                    b"".join(
                        int(v << 8).to_bytes(3, "little", signed=True) for v in dith.tolist()
                    ),
                    1,
                    16000,
                ),
            ]
        for payload in variants:
            rows.append({"media_id": mid, "payload": payload, "base": b})
            mid += 1
    rows.append({"media_id": mid, "payload": b"RIFF\x10\x00\x00\x00WAVEjunk", "base": -1})
    return rows


def audio_fp_corpus_hashes() -> list[tuple[int, int]]:
    """Spark-free twin: (media_id, unsigned fingerprint) for every
    decodable corpus row — driver-side decode_wav + the same pure-numpy
    hash; the corrupt row is absent (the drop-policy pin)."""
    from ..functions.audio_hash import audio_payload_hash64

    out = []
    for row in audio_fp_corpus():
        try:
            out.append((row["media_id"], audio_payload_hash64(bytes(row["payload"]))))
        except ValueError:
            continue
    return out


def audio_fp_oracle_sql() -> str:
    """DuckDB face of audio_fingerprint_pairs over the fixture corpus —
    same structure as phash_oracle_sql via the shared generic builder."""
    return _hamming_pairs_oracle_sql(audio_fp_corpus_hashes(), AUDIO_HAMMING)


# ---------------------------------------------------------------------------
# COMPRESSED-audio near-dup fixture (round 6): the r5 verdict's top
# residual was lossy-coded media coverage — G.711 mu-law / A-law and
# IMA ADPCM are the dependency-free tractable slice of it (wav_codec
# round-6 scope note). Perceptual-model codecs (mp3/AAC) stay behind
# the honest NotImplementedError seam.
# ---------------------------------------------------------------------------

_AUDIO_FP_COMPRESSED_BASES = 8
_COMPRESSED_MAX_HAMMING = 12  # measured: within-base <= 9, across >= 23


def audio_fp_compressed_corpus() -> list[dict]:
    """Deterministic compressed-audio gate corpus: 8 base clips
    (alternating band-limited / wideband, same builder as
    audio_fp_corpus but seed FIXTURE_SEED+6) x 4 variants a pipeline
    must collapse — 16-bit PCM original, G.711 mu-law re-encode, G.711
    A-law re-encode, IMA ADPCM re-encode (base 7's ADPCM is STEREO
    dual-mono, exercising the per-channel block interleave in-gate) —
    plus one corrupt ADPCM payload (step index 99, out of the 0-88
    table) the operator must DROP. Quantization noise here is
    signal-dependent (~37 dB SNR), hotter than r5's dither, so the
    radius is 12 (within-base pairs measured <= 9, distinct bases
    >= 23: clean margins both ways)."""
    from ..functions.wav_codec import encode_wav_g711, encode_wav_ima_adpcm

    rng = np.random.RandomState(FIXTURE_SEED + 6)
    rows: list[dict] = []
    mid = 0
    for b in range(_AUDIO_FP_COMPRESSED_BASES):
        n = 4096 + (b % 3) * 512
        x = _base_clip(rng, n, band_limited=b % 2 == 0)
        orig = np.round(x).astype(np.int16)
        adpcm_in = np.stack([orig, orig], axis=1) if b == 7 else orig
        variants = [
            encode_wav(orig, 16000),
            encode_wav_g711(orig, 16000, "mulaw"),
            encode_wav_g711(orig, 16000, "alaw"),
            encode_wav_ima_adpcm(adpcm_in, 16000),
        ]
        for payload in variants:
            rows.append({"media_id": mid, "payload": payload, "base": b})
            mid += 1
    corrupt = bytearray(encode_wav_ima_adpcm(np.zeros(64, dtype=np.int16), 16000, 40))
    corrupt[corrupt.index(b"data") + 8 + 2] = 99  # first block's step index
    rows.append({"media_id": mid, "payload": bytes(corrupt), "base": -1})
    return rows


def audio_fp_compressed_hashes() -> list[tuple[int, int]]:
    """Spark-free twin: (media_id, unsigned fingerprint) per decodable
    row — driver-side decode_wav + the same pure-numpy hash; the
    corrupt ADPCM row is absent (the drop-policy pin)."""
    from ..functions.audio_hash import audio_hash64
    from ..functions.wav_codec import decode_wav

    out = []
    for row in audio_fp_compressed_corpus():
        try:
            samples, _rate = decode_wav(bytes(row["payload"]))
        except ValueError:
            continue
        out.append((row["media_id"], audio_hash64(samples)))
    return out


def audio_fp_compressed_oracle_sql() -> str:
    """DuckDB face of audio_fingerprint_pairs over the compressed
    corpus — twin fingerprints as VALUES; banding, candidate equi-join,
    Hamming and the radius filter genuinely recomputed in SQL."""
    return _hamming_pairs_oracle_sql(audio_fp_compressed_hashes(), _COMPRESSED_MAX_HAMMING)


# ---------------------------------------------------------------------------
# video-fingerprint near-dup fixture (round 5): completes the triad
# ---------------------------------------------------------------------------

_VIDEO_FP_BASES = 10
_VIDEO_FP_FRAMES = 8


def _base_frames(
    rng: np.random.RandomState, h: int, w: int, grey: bool = False
) -> list[np.ndarray]:
    """A base-distinctive clip as uint8 frames: one textured keyframe +
    low-amplitude per-frame noise (sensor-noise-scale, sigma 4) so every
    frame's pHash sits within a few bits of the keyframe's — the
    lopsided-vote regime the majority combiner is designed for.
    ``grey=True`` replicates a single channel so every frame has <= 256
    distinct colors — losslessly GIF-encodable without a quantizer (the
    cross-format bases)."""
    key = textured_image(rng, h, w).astype(np.float64)
    if grey:
        key = key[:, :, :1]
    out = []
    for _ in range(_VIDEO_FP_FRAMES):
        f = np.clip(np.round(key + rng.normal(0.0, 4.0, key.shape)), 0, 255)
        if grey:
            f = np.repeat(f, 3, axis=2)
        out.append(f.astype(np.uint8))
    return out


def video_fp_corpus() -> list[dict]:
    """Deterministic video-fingerprint gate corpus: 10 base clips
    (8 frames each) x 4 variants a pipeline must collapse. Bases 0-7:
    MJPEG q85, MJPEG q78 re-encode, per-frame PROGRESSIVE re-encode
    (q85), and a first-frame-trimmed REVERSED cut (order-invariance +
    trim pin). Bases 8-9 are grey-palettized CROSS-FORMAT clips: MJPEG
    q85, MJPEG q78, the SAME frames as a lossless animated GIF, and a
    trimmed-reversed animated GIF — the same clip must pair across
    containers. Plus one corrupt payload (neither framing) the operator
    must DROP. Expected pairing: the 6 within-base pairs per base at
    hamming <= 6, nothing across bases."""
    from ..functions.gif_codec import encode_gif_animation
    from ..functions.webp_codec import encode_webp_animation

    rng = np.random.RandomState(FIXTURE_SEED + 6)
    rows: list[dict] = []
    mid = 0
    for b in range(_VIDEO_FP_BASES):
        cross = b >= 8
        frames = _base_frames(rng, 40 + (b % 3) * 8, 56 - (b % 2) * 8, grey=cross)
        if b == 9:
            # third container: the same clip as MJPEG and animated WebP
            # (lossless VP8L frames) must collapse too
            variants = [
                encode_mjpeg(frames, quality=85),
                encode_mjpeg(frames, quality=78),
                encode_webp_animation(frames, subtract_green=True),
                encode_webp_animation(frames[1:][::-1], cache_bits=5),
            ]
        elif cross:
            variants = [
                encode_mjpeg(frames, quality=85),
                encode_mjpeg(frames, quality=78),
                encode_gif_animation(frames),
                encode_gif_animation(frames[1:][::-1], interlace=True),
            ]
        else:
            variants = [
                encode_mjpeg(frames, quality=85),
                encode_mjpeg(frames, quality=78),
                b"".join(encode_jpeg(f, quality=85, progressive=True) for f in frames),
                encode_mjpeg(frames[1:][::-1], quality=85),
            ]
        for payload in variants:
            rows.append({"media_id": mid, "payload": payload, "base": b})
            mid += 1
    rows.append({"media_id": mid, "payload": b"not a video at all", "base": -1})
    return rows


def video_fp_corpus_hashes() -> list[tuple[int, int]]:
    """Spark-free twin: (media_id, unsigned fingerprint) for every
    decodable corpus row — driver-side framing + decode + the same
    pure-numpy majority hash; the corrupt row is absent (drop pin)."""
    from ..functions.video_hash import video_payload_hash64

    out = []
    for row in video_fp_corpus():
        try:
            out.append((row["media_id"], video_payload_hash64(bytes(row["payload"]))))
        except ValueError:
            continue
    return out


def video_fp_oracle_sql() -> str:
    """DuckDB face of video_phash_pairs over the fixture corpus — same
    structure as phash/audio via the shared generic builder."""
    return _hamming_pairs_oracle_sql(video_fp_corpus_hashes(), VIDEO_HAMMING)


# ---------------------------------------------------------------------------
# mixed-modality near-dup sweep (late round 5): one table, all three
# perceptual operators
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# A/V container (RIFF/AVI) cross-modal near-dup fixture (round 6)
# ---------------------------------------------------------------------------


def av_corpus() -> list[dict]:
    """Deterministic A/V cross-modal gate corpus (r5 verdict ask #5).

    Two multiplexed bases plus a decoy and a corrupt row:

    * base 0 — AVI(MJPG footage V0 + PCM clip A) [id 0] must pair its
      AUDIO track with standalone WAV(A) [id 1] and FLAC(A, the
      lossless re-container) [id 2], and its VIDEO track with a
      standalone MJPEG re-encode of V0 at q78 [id 3]: the
      video<->audio-clip cross pair the single-container operators
      cannot produce.
    * base 1 — AVI(grey footage V1 + PCM clip B gain 1.0) [id 4] pairs
      video with a lossless animated GIF of V1 [id 5] (cross-FORMAT on
      top of cross-container) and audio with WAV(B, gain 0.6) [id 6].
    * id 7 — an unrelated AVI (own footage + clip): flagged by neither
      family (specificity pin).
    * id 8 — a truncated AVI: dropped (no perceptual identity).
    * ids 9-11 (round 6, ISO-BMFF) — id 9: base 0's clip re-containered
      as MP4 ('jpeg' video + 'sowt' PCM; hamming 0 to the AVI in both
      families — the AVI<->MP4 cross-multiplexed-container pair);
      id 10: an MP4 with an UNSUPPORTED avc1 video track over base 1's
      PCM soundtrack (partial-demux pin: audio pairs, video absent);
      id 11: a corrupt MP4 (box size past EOF): dropped.
    """
    from ..functions.avi_codec import encode_avi
    from ..functions.flac_codec import encode_flac
    from ..functions.gif_codec import encode_gif_animation

    rng = np.random.RandomState(FIXTURE_SEED + 7)
    rows: list[dict] = []

    # base 0: color footage + wideband clip
    v0 = _base_frames(rng, 40, 56)
    a0 = _base_clip(rng, 4096, band_limited=False)
    a0_i16 = np.round(a0).astype(np.int16)
    avi0 = encode_avi(v0, a0_i16, 16000, quality=85)
    rows.append({"media_id": 0, "payload": avi0})
    rows.append({"media_id": 1, "payload": encode_wav(a0_i16, 16000)})
    rows.append({"media_id": 2, "payload": encode_flac(a0_i16, 16000)})
    # trimmed REVERSED q78 re-encode: order-invariance + trim on top of
    # the cross-container pair (mirrors the video_fp corpus variants)
    rows.append({"media_id": 3, "payload": encode_mjpeg(v0[1:][::-1], quality=78)})

    # base 1: grey footage (<= 256 colors -> losslessly GIF-encodable)
    v1 = _base_frames(rng, 48, 48, grey=True)
    a1 = _base_clip(rng, 4608, band_limited=True)
    a1_i16 = np.round(a1).astype(np.int16)
    rows.append({"media_id": 4, "payload": encode_avi(v1, a1_i16, 16000, quality=85)})
    rows.append({"media_id": 5, "payload": encode_gif_animation(v1)})
    rows.append(
        {"media_id": 6, "payload": encode_wav(np.round(a1 * 0.6).astype(np.int16), 16000)}
    )

    # decoy: unrelated AVI — no partners in either family
    v2 = _base_frames(rng, 44, 60)
    a2_i16 = np.round(_base_clip(rng, 4096, band_limited=False)).astype(np.int16)
    rows.append({"media_id": 7, "payload": encode_avi(v2, a2_i16, 16000)})

    # corrupt: an AVI signature over a truncated body — must drop
    rows.append({"media_id": 8, "payload": avi0[:64]})

    # round 6: the SECOND multiplexed container — ISO-BMFF. id 9 is the
    # same clip as base 0's AVI re-containered as MP4 ('jpeg' video at
    # the same q85 -> byte-identical samples -> video hamming 0 with
    # id 0; 'sowt' PCM is lossless -> audio hamming 0 with ids 0/1/2):
    # the AVI<->MP4 cross-multiplexed-container pair no single-format
    # path can produce. id 10 is an MP4 with an UNSUPPORTED (avc1)
    # video track but base 1's PCM soundtrack: the partial-demux pin —
    # its audio must still pair with ids 4/6 while it contributes no
    # video hash. id 11 is a corrupt MP4 (moov declares a box past
    # EOF) — must drop.
    from ..functions.mp4_codec import encode_mp4

    mp4_0 = encode_mp4(v0, a0_i16, 16000, quality=85)
    rows.append({"media_id": 9, "payload": mp4_0})
    mp4_1 = bytearray(encode_mp4(v1, a1_i16, 16000, quality=85))
    jpeg_at = mp4_1.index(b"jpeg", mp4_1.index(b"stsd"))
    mp4_1[jpeg_at : jpeg_at + 4] = b"avc1"
    rows.append({"media_id": 10, "payload": bytes(mp4_1)})
    rows.append({"media_id": 11, "payload": mp4_0[:200]})
    return rows


def av_corpus_hashes() -> list[tuple[int, str, int]]:
    """Spark-free twin: (media_id, family, unsigned hash) for every
    fingerprint the corpus yields — driver-side demux/decode through the
    same functions the operator calls; the corrupt row is absent."""
    from ..functions.audio_hash import audio_hash64
    from ..functions.avi_codec import demux_avi, is_avi
    from ..functions.flac_codec import decode_flac, is_flac
    from ..functions.mp4_codec import demux_mp4, is_mp4
    from ..functions.video_hash import video_payload_hash64
    from ..functions.wav_codec import decode_wav, is_wav

    out: list[tuple[int, str, int]] = []
    for row in av_corpus():
        payload = bytes(row["payload"])
        mid = row["media_id"]
        try:
            if is_avi(payload) or is_mp4(payload):
                if is_avi(payload):
                    vf, samples, _rate = demux_avi(payload)
                else:
                    vf, samples, _rate = demux_mp4(payload, skip_unsupported=True)
                if vf:
                    out.append((mid, "video", video_payload_hash64(b"".join(vf))))
                if samples.shape[0]:
                    out.append((mid, "audio", audio_hash64(samples)))
            elif is_wav(payload):
                samples, _rate = decode_wav(payload)
                out.append((mid, "audio", audio_hash64(samples)))
            elif is_flac(payload):
                samples, _rate = decode_flac(payload)
                out.append((mid, "audio", audio_hash64(samples)))
            else:
                out.append((mid, "video", video_payload_hash64(payload)))
        except ValueError:
            continue
    return out


def av_near_dup_oracle_sql() -> str:
    """DuckDB face of av_fingerprint_pairs over the fixture corpus:
    per-family twin-pinned hash VALUES through the shared banding
    recomputation (same n_bands the single-join operator uses for both
    families), family-tagged and UNION ALL'd."""
    hashes = av_corpus_hashes()
    n_bands = max(AUDIO_HAMMING, VIDEO_HAMMING) + 1
    parts = []
    for fam, radius in (("audio", AUDIO_HAMMING), ("video", VIDEO_HAMMING)):
        fam_hashes = [(mid, h) for mid, f, h in hashes if f == fam]
        parts.append(
            f"SELECT '{fam}' AS family, id_a, id_b, hamming FROM ("
            + _hamming_pairs_oracle_sql(fam_hashes, radius, n_bands)
            + ")"
        )
    return "\nUNION ALL\n".join(parts)


_MODALITY_OFFSET = {"image": 0, "audio": 100_000, "video": 200_000}


def media_near_dup_corpus() -> list[dict]:
    """The three perceptual gate corpora as ONE media table:
    (media_id, kind, payload) with per-modality id offsets so ids never
    collide — the input shape of a real mixed-media dedup sweep."""
    rows: list[dict] = []
    for kind, corpus in (
        ("image", phash_corpus()),
        ("audio", audio_fp_corpus()),
        ("video", video_fp_corpus()),
    ):
        off = _MODALITY_OFFSET[kind]
        for r in corpus:
            rows.append(
                {
                    "media_id": r["media_id"] + off,
                    "kind": kind,
                    "payload": r["payload"],
                }
            )
    return rows


def media_near_dup_oracle_sql() -> str:
    """DuckDB face: per-modality twin-pinned hash VALUES + SQL-recomputed
    banding/Hamming (the shared generic builder), UNION ALL'd with the
    modality tag and the id offsets applied to the injected hashes."""
    parts = []
    for tag, hashes, radius in (
        ("image", phash_corpus_hashes(), IMAGE_HAMMING),
        ("audio", audio_fp_corpus_hashes(), AUDIO_HAMMING),
        ("video", video_fp_corpus_hashes(), VIDEO_HAMMING),
    ):
        off = _MODALITY_OFFSET[tag]
        shifted = [(mid + off, h) for mid, h in hashes]
        parts.append(
            f"SELECT '{tag}' AS modality, id_a, id_b, hamming FROM ("
            + _hamming_pairs_oracle_sql(shifted, radius)
            + ")"
        )
    return "\nUNION ALL\n".join(parts)
