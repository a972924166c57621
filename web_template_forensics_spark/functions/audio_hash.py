"""Perceptual audio fingerprinting — pure numpy, deterministic.

64-bit time-frequency fingerprint in the Haitsma-Kalker shape (ISMIR
2002: sign of the time-delta of band-energy differences), over log
energies so the hash is exactly GAIN-INVARIANT: 17 equal time frames ×
5 spectral bands (DC excluded), bit(t, b) = Δt(Δband(log E)) > 0 →
16 × 4 = 64 bits. Robust to the transforms a training-data pipeline
must collapse — volume normalization, re-quantization (8/16/24/32-bit
PCM, IEEE float), low-level dither — while distinct clips differ in
~half the bits. Log-domain energies get a -30 dB relative floor so
empty bands produce deterministic bits instead of thresholding
quantization noise (the same fix pHash's median needed for sparse
spectra).

Determinism contract: fixed-order numpy float64 + a 1e-6 quantization
before every sign, so the executor face (mapInPandas) and the
Spark-free oracle twin produce bit-identical fingerprints on the same
decoded samples — the cross-face discipline shared with
``image_hash.phash64`` and ``text_udfs.minhash_signature``.

Measured operating point (pinned in test_audio_hash.py): same clip
across gain 0.6-1.2 / dither / bit-depth re-encodes lands at hamming
<= 6 (wideband <= 1); distinct clips sit >= 17, band-limited or not.

Reference parity: the reference repo has no audio surface at all
(SURVEY.md §2 multimodal graft); this is pipeline graft surface.
"""

from __future__ import annotations

import numpy as np

N_FRAMES = 16  # bits rows; energies use N_FRAMES + 1 frames
N_BANDS = 4  # bits cols; energies use N_BANDS + 1 bands
_MIN_SAMPLES = (N_FRAMES + 1) * 12  # every frame >= 12 samples -> >= 6 rfft bins


def audio_hash64(samples: np.ndarray) -> int:
    """(n,) or (n, ch) int-like samples -> unsigned 64-bit fingerprint."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    if len(x) < _MIN_SAMPLES:
        x = np.pad(x, (0, _MIN_SAMPLES - len(x)))
    n = len(x)
    fe = (np.arange(N_FRAMES + 2) * n) // (N_FRAMES + 1)
    energy = np.zeros((N_FRAMES + 1, N_BANDS + 1))
    for t in range(N_FRAMES + 1):
        spec = np.abs(np.fft.rfft(x[fe[t] : fe[t + 1]])) ** 2
        m = len(spec)
        # bands over bins [1, m) — DC excluded (a constant offset is not
        # perceptual content and would break gain invariance of nothing
        # else); m >= 7 by the padding floor, so edges strictly increase
        be = 1 + (np.arange(N_BANDS + 2) * (m - 1)) // (N_BANDS + 1)
        energy[t] = np.add.reduceat(spec, be[:-1])
    total = energy.sum()
    floor = max(total, 1e-30) * 1e-3
    lg = np.round(np.log(energy + floor), 6)
    band_diff = lg[:, :-1] - lg[:, 1:]  # (frames+1, bands)
    bits = np.round(band_diff[1:] - band_diff[:-1], 6) > 0  # (frames, bands)
    h = 0
    for v in bits.reshape(-1):
        h = (h << 1) | int(v)
    return h


def audio_payload_hash64(payload: bytes) -> int:
    """Audio payload (RIFF/WAVE or FLAC) -> unsigned 64-bit fingerprint,
    dispatched on magic bytes. FLAC decodes to the EXACT source samples,
    so a WAV<->FLAC re-containering is a hamming-0 pair. Raises
    ValueError when the payload is neither or does not decode (drop
    policy)."""
    from .flac_codec import decode_flac, is_flac
    from .wav_codec import decode_wav, is_wav

    if is_wav(payload):
        samples, _rate = decode_wav(payload)
    elif is_flac(payload):
        samples, _rate = decode_flac(payload)
    else:
        raise ValueError("not a WAV or FLAC payload")
    return audio_hash64(samples)
