"""Distributed REAL-media corpus builder (bench + tests).

``build_media_df(spark, n)`` generates ``n`` rows of genuinely encoded
media — PNG (plain + Adam7-interlaced), JPEG (sequential, progressive,
non-interleaved multi-scan), GIF (interlaced images + animations),
WebP-lossless, RIFF/WAVE PCM, FLAC and Motion-JPEG — entirely
on executors (``mapInPandas`` over ``spark.range``), so corpus size is
bounded only by cluster capacity, never by the driver. Each row is a
pure function of (seed, media_id): regenerating any partition yields
byte-identical payloads, which is what lets the bench cache the corpus
to parquet and lets tests decode rows independently.

Every payload round-trips through the package's own encoders, so
``extract_media_features`` over this table measures actual decode
throughput with zero fallback rows.

Reference parity: the reference repo has no binary-asset path at all
(SURVEY.md §2 multimodal graft) — this source exists for the
training-data-pipeline surface, not reference parity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.flac_codec import encode_flac
from ..functions.gif_codec import encode_gif, encode_gif_animation
from ..functions.jpeg_codec import encode_jpeg, encode_mjpeg
from ..functions.png_codec import encode_png
from ..functions.wav_codec import encode_wav
from ..functions.webp_codec import encode_webp
from ..operators.multimodal import MEDIA_SCHEMA

_IMAGE_VARIANTS = 8  # rotation over the distinct image encode paths


def _media_row(i: int, seed: int) -> tuple:
    """(media_id, kind, payload, meta) for one id — deterministic in
    (seed, i), independent of partitioning."""
    rng = np.random.RandomState((seed * 1_000_003 + i * 7919) % (2**31 - 1))
    kind = ("image", "audio", "video")[i % 3]
    meta = {
        "width": None,
        "height": None,
        "sample_rate": None,
        "duration_ms": None,
        "codec": None,
    }
    if kind == "image":
        h = 32 + int(rng.randint(0, 33))
        w = 32 + int(rng.randint(0, 49))
        img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        v = (i // 3) % _IMAGE_VARIANTS
        if v == 0:
            payload, codec = encode_png(img, filter_type=int(rng.randint(0, 5))), "png"
        elif v == 1:
            payload, codec = encode_png(img, filter_type=4, interlace=True), "png"
        elif v == 2:
            payload, codec = encode_jpeg(img, quality=80), "jpeg"
        elif v == 3:
            payload, codec = encode_jpeg(img, quality=92), "jpeg"
        elif v == 4:
            payload, codec = encode_jpeg(img, quality=85, progressive=True), "jpeg"
        elif v == 5:
            payload, codec = encode_jpeg(img, quality=85, interleave=False), "jpeg"
        elif v == 6:
            # GIF requires <= 256 colors: palettized texture
            pal = rng.randint(0, 256, size=(64, 3)).astype(np.uint8)
            img = pal[rng.randint(0, 64, size=(h, w))]
            payload, codec = encode_gif(img, interlace=i % 2 == 0), "gif"
        else:
            payload, codec = (
                encode_webp(img, subtract_green=True, cache_bits=6),
                "webp",
            )
        meta.update(width=w, height=h, codec=codec)
    elif kind == "audio":
        n_samp = 2000 + int(rng.randint(0, 5)) * 1000
        ch = 1 + (i // 3) % 2
        rate = (8000, 16000, 44100)[(i // 3) % 3]
        samples = rng.randint(-32768, 32768, size=(n_samp, ch)).astype(np.int16)
        if (i // 3) % 3 == 2:
            # FLAC leg: lossless compressed audio, alternating stereo modes
            payload = encode_flac(
                samples, rate, stereo_mode="mid_side" if ch == 2 else "independent"
            )
            codec = "flac"
        else:
            payload = encode_wav(samples, rate)
            codec = "wav"
        meta.update(
            sample_rate=rate, duration_ms=int(n_samp * 1000 / rate), codec=codec
        )
    else:
        n_frames = 3 + (i // 3) % 3
        side = 24 + 8 * ((i // 3) % 2)
        if (i // 3) % 4 == 3:
            # animated GIF leg: palettized frames, lossless
            pal = rng.randint(0, 256, size=(32, 3)).astype(np.uint8)
            frames = [
                pal[rng.randint(0, 32, size=(side, side))] for _ in range(n_frames)
            ]
            payload = encode_gif_animation(frames)
            codec = "gif"
        else:
            frames = [
                rng.randint(0, 256, size=(side, side, 3)).astype(np.uint8)
                for _ in range(n_frames)
            ]
            payload = encode_mjpeg(frames, quality=85)
            codec = "mjpeg"
        meta.update(
            width=side, height=side, duration_ms=n_frames * 1000, codec=codec
        )
    return i, kind, bytearray(payload), meta


def build_media_df(
    spark, n: int, seed: int = 7, partitions: int | None = None
) -> DataFrame:
    """``n`` real-media rows in MEDIA_SCHEMA, generated ON EXECUTORS.

    ``partitions`` defaults to one partition per ~500 rows (floor 32) so
    the encode work — JPEG/MJPEG encoding dominates at ~10-50 ms/row —
    parallelizes across the cluster and no single task holds more than a
    few MB of payloads at once."""
    parts = partitions or max(32, n // 500)

    def op(batches):
        for pdf in batches:
            rows = [_media_row(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return spark.range(0, n, 1, parts).mapInPandas(op, MEDIA_SCHEMA)
