"""Synthetic media generators for fixtures, scale studies, and recall
dials (VERDICT r7 #5).

The round-5 generators (kept here as ``smooth_image`` / ``tone_clip``
for comparability with earlier SCALING entries) are fingerprint-
DEGENERATE at scale: a 4×4 coarse color grid carries so little
pHash-visible structure that distinct pHashes exhaust around ~2k
samples, and a stationary 3-tone clip emits ~10 distinct landmark
hashes (every anchor frame repeats the same peak set), which is why
the audio df-cap dial was operating at the collision-prone edge.

The rich generators fix both while staying fingerprint-APPROPRIATE
(low-frequency dominant images, spectral-peak audio):

- ``rich_image``: per-channel sum of random low-frequency 2D cosine
  fields plus soft gaussian blobs, contrast-normalized. Measured
  (SCALING.md §"media fixture generators"): distinct pHashes == n at
  50k samples, mean per-bit entropy ≈ 0.98, σ=3 pixel noise moves
  the pHash ≤ 8 bits (p95 = 6) while distinct images sit ≥ 18 bits
  apart.
- ``rich_clip``: a note sequence (random 80-200 ms notes, 150-3200 Hz
  fundamentals with two harmonics, attack/decay envelopes), so the
  spectral peak set CHANGES across frames. Measured: ~134 distinct
  landmark hashes per 1 s clip (vs ~10 for the tones), noisy-copy
  offset votes ≥ 95 vs cross-clip max ≈ 14 — an order-of-magnitude
  verify margin for the ``min_matches`` dial.

Determinism: every generator is seeded and rng-isolated, so fixtures
regenerate bit-identically across sessions and Spark tasks.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

RATE = 8000


def ppm_bytes(arr: np.ndarray) -> bytes:
    """Binary PPM (P6) encode — the repo's opaque image payload."""
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.astype(np.uint8).tobytes()


def png_bytes(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """PNG encode of an (h, w, 3) uint8 array (operators/png.py) —
    the compressed sibling of ppm_bytes; filter_type picks the
    scanline filter so tests can drive every decoder unfilter path."""
    from nfl_data_pipeline_spark.operators.png import encode_png

    h, w, _ = arr.shape
    return encode_png(
        arr.astype(np.uint8).tobytes(), w, h, channels=3,
        filter_type=filter_type,
    )


def wav_bytes(x: np.ndarray, rate: int = RATE) -> bytes:
    """16-bit mono WAV encode — the repo's opaque audio payload."""
    pcm = np.clip(x, -1, 1)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(
            b"".join(struct.pack("<h", int(v * 32000)) for v in pcm)
        )
    return buf.getvalue()


def smooth_image(seed: int, w: int = 24, h: int = 16) -> np.ndarray:
    """ROUND-5 generator (4×4 coarse grid upsampled): kept for
    comparability; pHash diversity exhausts around ~2k samples."""
    rng = np.random.default_rng(seed)
    coarse = rng.uniform(0, 255, size=(4, 4, 3))
    ys = (np.arange(h) * 4) // h
    xs = (np.arange(w) * 4) // w
    return coarse[ys][:, xs]


def rich_image(seed: int, w: int = 24, h: int = 16) -> np.ndarray:
    """Low-frequency cosine fields + soft blobs: photo-like content
    with continuous parameters — pHash diversity does not exhaust
    (50k/50k distinct measured) while σ=3 noise stays within the
    standard ≤ 10-bit near-dup budget."""
    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:h, 0:w].astype(float)
    img = np.zeros((h, w, 3))
    for c in range(3):
        field = np.zeros((h, w))
        for _ in range(6):
            fx, fy = rng.uniform(0.2, 2.5, 2)
            ph = rng.uniform(0, 2 * np.pi, 2)
            amp = rng.uniform(10, 60)
            field += (
                amp
                * np.cos(2 * np.pi * fx * x / w + ph[0])
                * np.cos(2 * np.pi * fy * y / h + ph[1])
            )
        img[..., c] = field
    for _ in range(3):
        cx, cy = rng.uniform(0, w), rng.uniform(0, h)
        r = rng.uniform(2, 6)
        blob = np.exp(-(((x - cx) ** 2 + (y - cy) ** 2) / (2 * r * r)))
        img += rng.uniform(-80, 80) * blob[..., None]
    img -= img.min()
    return img / (img.max() + 1e-9) * 255


def tone_clip(seed: int, ms: int = 1000, rate: int = RATE) -> np.ndarray:
    """ROUND-5 generator (3 stationary sine partials): kept for
    comparability; emits ~10 distinct landmark hashes per clip."""
    rng = np.random.default_rng(seed)
    t = np.arange(rate * ms // 1000) / rate
    freqs = rng.uniform(200, 3000, size=3)
    amps = rng.uniform(0.2, 0.4, size=3)
    return sum(a * np.sin(2 * np.pi * f * t) for f, a in zip(freqs, amps))


def rich_clip(seed: int, ms: int = 1000, rate: int = RATE) -> np.ndarray:
    """Note-sequence 'melody': random 80-200 ms notes with harmonic
    stacks and attack/decay envelopes, so the constellation peak set
    changes frame to frame (~134 distinct landmark hashes per second
    measured vs ~10 for the stationary tones)."""
    rng = np.random.default_rng(seed)
    n = rate * ms // 1000
    x = np.zeros(n)
    pos = 0
    while pos < n:
        dur = int(rate * rng.uniform(0.08, 0.2))
        f0 = rng.uniform(150, 3200)
        end = min(n, pos + dur)
        tt = np.arange(end - pos) / rate
        env = np.minimum(1, tt * 50) * np.exp(-tt * rng.uniform(1, 6))
        note = env * (
            0.5 * np.sin(2 * np.pi * f0 * tt)
            + 0.25 * np.sin(2 * np.pi * 2 * f0 * tt)
            + 0.15 * np.sin(2 * np.pi * 3 * f0 * tt)
        )
        x[pos:end] += note
        pos = end
    return 0.8 * x / (np.abs(x).max() + 1e-9)
