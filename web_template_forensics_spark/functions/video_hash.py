"""Perceptual video fingerprinting — pure numpy, deterministic.

64-bit fingerprint of a frame sequence: per-frame pHash
(``image_hash.phash64``) over an evenly-spaced frame sample, combined
by PER-BIT MAJORITY VOTE (strict majority -> 1, ties -> 0). The result
is the consensus perceptual signature of the frame SET:

- robust to per-frame re-encoding (each frame's pHash moves <= ~2 bits
  across JPEG quality levels, so almost every bit's vote is lopsided);
- robust to trims / dropped or duplicated frames / reordering (the
  vote is order-invariant by construction — a reversed or trimmed clip
  is still duplicate *content* for training-data dedup, which is the
  frame-set semantic coarse video-copy detectors use; callers needing
  temporal alignment should diff the per-frame hash sequences instead);
- distinct clips built from distinct textures differ in ~half the bits
  because their per-frame pHashes already do.

Determinism contract: phash64 is already cross-face deterministic
(1e-6 quantization before thresholds); the vote adds only integer
popcount comparisons — no floats — so the executor face (mapInPandas)
and the Spark-free oracle twin are bit-identical on the same frames.

Measured operating point (pinned in test_video_hash.py): same clip
across MJPEG quality 78-85 / progressive re-encode / first-frame trim /
frame reversal lands at hamming <= 4; distinct clips sit >= 18.

Reference parity: the reference repo has no video surface at all
(SURVEY.md §2 multimodal graft); this is pipeline graft surface.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

# frames sampled evenly per clip: only these pay a decode + pHash
MAX_FRAMES = 8


def even_sample(items: Sequence, k: int) -> list:
    """Evenly-spaced subset (first-biased integer grid) — the ONE
    sampling rule shared by the fingerprint face (this module) and the
    feature face (operators/multimodal.py); a drift between the two
    would silently change which frames each face decodes."""
    if len(items) <= k:
        return list(items)
    idx = (np.arange(k) * len(items)) // k
    return [items[int(i)] for i in idx]


def video_hash64(frame_hashes: Sequence[int]) -> int:
    """Unsigned 64-bit per-frame pHashes -> unsigned 64-bit fingerprint.

    Bit j of the result is 1 iff a STRICT majority of frames have bit j
    set (2*count > n; ties -> 0, deterministically). Raises on an empty
    sequence — a clip with no decodable frames has no perceptual
    identity (callers drop the row, same policy as image/audio)."""
    if not frame_hashes:
        raise ValueError("video_hash64: no frames")
    bits = np.zeros(64, dtype=np.int64)
    for h in frame_hashes:
        v = int(h)
        for j in range(64):
            bits[63 - j] += (v >> j) & 1
    out = 0
    n = len(frame_hashes)
    for b in bits:
        out = (out << 1) | int(2 * int(b) > n)
    return out


def video_payload_hash64(payload: bytes) -> int:
    """Video payload (MJPEG, animated GIF or animated WebP) -> unsigned
    64-bit fingerprint, dispatched on magic bytes. Because the combiner
    is an order-invariant vote over per-frame pHashes, the SAME clip
    encoded in any of the three containers lands within the radius —
    the cross-format near-dup a training pipeline needs (the sprite/
    banner that circulates re-containered). Raises ValueError when the
    payload is none of them or nothing decodes (drop policy)."""
    from .gif_codec import GifFormatError, decode_gif_frames, is_gif
    from .image_hash import phash64
    from .webp_codec import WebpFormatError, decode_webp_frames, is_webp

    if is_gif(payload):
        try:
            frames = decode_gif_frames(payload, sample_k=MAX_FRAMES)
        except GifFormatError as exc:
            raise ValueError(f"GIF video: {exc}") from exc
    elif is_webp(payload):
        try:
            # sample INSIDE the decoder (same even grid): only the kept
            # canvases materialize, not every composited frame
            frames = [
                f[:, :, :3]
                for f in decode_webp_frames(payload, sample_k=MAX_FRAMES)
            ]
        except (WebpFormatError, NotImplementedError) as exc:
            raise ValueError(f"WebP video: {exc}") from exc
        return video_hash64([phash64(f) for f in frames])
    else:
        return mjpeg_video_hash64(payload)
    return video_hash64([phash64(f) for f in frames])


def mjpeg_video_hash64(payload: bytes) -> int:
    """MJPEG payload -> unsigned 64-bit video fingerprint.

    Structural framing is cheap (marker walk, no decode); only the
    <= ``MAX_FRAMES`` evenly-sampled frames pay the real JPEG decode +
    pHash cost. A TRUNCATED TAIL (capture cut mid-frame — common in
    real MJPEG) keeps every complete frame already walked; frames that
    fail to decode are skipped; raises ValueError when NO frame
    decodes (drop policy, as above)."""
    from .image_hash import phash64
    from .jpeg_codec import JpegFormatError, decode_jpeg, iter_jpeg_frame_spans

    spans: list[tuple[int, int]] = []
    try:
        for span in iter_jpeg_frame_spans(payload):
            spans.append(span)
    except JpegFormatError:
        pass  # keep the complete frames walked before the cut
    spans = even_sample(spans, MAX_FRAMES)
    hashes: list[int] = []
    for s, e in spans:
        try:
            hashes.append(phash64(decode_jpeg(payload[s:e])))
        except ValueError:
            continue
    if not hashes:
        raise ValueError("mjpeg_video_hash64: no decodable frames")
    return video_hash64(hashes)
