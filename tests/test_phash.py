"""Perceptual image hash dedup: pHash robustness on real PPM payloads
and the generic banded Hamming join's equality with brute force.

Fixtures use mediasynth.rich_image (the r8 content-rich generator):
the round-5 blocky 4×4 generator parks many DCT AC coefficients AT
the median, so its hashes carry environment-borderline bits — the r9
full-suite run flipped test_phash_resize_invariance from 10 to 12
bits on a BLAS/threading change with IDENTICAL code. Rich content
keeps every margin wide (measured: noise ≤ 6, brightness ≤ 4, resize
≤ 2 bits vs ≥ 30 for distinct scenes)."""

from __future__ import annotations

import numpy as np

from nfl_data_pipeline_spark.operators.dedup import hamming_near_pairs
from tests.mediasynth import (
    ppm_bytes,
    rich_image,
)
from nfl_data_pipeline_spark.operators.multimodal import (
    attach_media,
    image_near_dups,
    phash_ppm,
)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & (1 << 64) - 1).count("1")


def test_phash_stability_and_discrimination():
    img = rich_image(1)
    base = phash_ppm(ppm_bytes(img))
    assert phash_ppm(ppm_bytes(img)) == base  # deterministic
    # mild pixel noise: visually identical → inside the standard ≤10
    # pHash near-dup budget with wide margin (measured 4)
    noisy = np.clip(
        img + np.random.default_rng(9).normal(0, 4, img.shape), 0, 255
    )
    assert _ham(base, phash_ppm(ppm_bytes(noisy))) <= 10
    # uniform brightness shift: DC-excluded median absorbs it
    # (measured 0-4)
    brighter = np.clip(img + 30, 0, 255)
    assert _ham(base, phash_ppm(ppm_bytes(brighter))) <= 10
    # different scenes → far apart (measured ≥ 30)
    assert _ham(base, phash_ppm(ppm_bytes(rich_image(2)))) > 16
    assert _ham(base, phash_ppm(ppm_bytes(rich_image(3)))) > 16


def test_phash_resize_invariance():
    """The same scene at a different resolution hashes nearby — the
    area-mean → 32×32 → DCT pipeline is resolution-normalizing
    (measured 0-2 bits on rich content)."""
    img = rich_image(7, w=24, h=16)
    big = img[np.repeat(np.arange(16), 2)][:, np.repeat(np.arange(24), 2)]
    assert _ham(phash_ppm(ppm_bytes(img)), phash_ppm(ppm_bytes(big))) <= 10


def test_image_near_dups_end_to_end(spark):
    rows = []
    for i in range(8):
        img = rich_image(100 + i)
        rows.append((2 * i, ppm_bytes(img)))  # original
        noisy = np.clip(
            img + np.random.default_rng(200 + i).normal(0, 3, img.shape),
            0,
            255,
        )
        rows.append((2 * i + 1, ppm_bytes(noisy)))  # planted near-dup
    df = attach_media(
        spark.createDataFrame(rows, "doc_id long, payload binary"),
        "payload",
        mime="image/x-portable-pixmap",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in image_near_dups(df, max_hamming=10).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(8)}
    assert planted <= pairs  # every planted copy found
    assert pairs == planted  # and no unrelated image paired


def test_hamming_near_pairs_matches_bruteforce(spark):
    import random

    rng = random.Random(5)
    fps = [rng.getrandbits(64) - (1 << 63) for _ in range(60)]
    # plant close pairs: flip ≤2 random bits
    for i in range(0, 20, 2):
        flipped = fps[i] ^ (1 << rng.randrange(64)) ^ (1 << rng.randrange(64))
        fps[i + 1] = flipped - (1 << 64) if flipped >= (1 << 63) else flipped
    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fps)], "id long, fp long"
    )
    got = sorted(
        tuple(r) for r in hamming_near_pairs(df, "id", "fp", max_hamming=2).collect()
    )
    want = sorted(
        (i, j, _ham(fps[i], fps[j]))
        for i in range(len(fps))
        for j in range(i + 1, len(fps))
        if _ham(fps[i], fps[j]) <= 2
    )
    assert got == want


def test_rich_image_generator_diversity_and_robustness():
    """tests/mediasynth.rich_image (VERDICT r7 #5): the r5 4×4
    blocky generator parks ~80% of distinct images inside another's
    hamming-10 radius (the kept-count decay in the gate studies); the
    rich generator must keep distinct images apart while a noisy copy
    stays inside the near-dup budget."""
    hashes = [phash_ppm(ppm_bytes(rich_image(i))) for i in range(300)]
    assert len(set(hashes)) == 300
    # distinct images are far apart...
    cross = [_ham(hashes[i], hashes[i + 1]) for i in range(0, 298, 2)]
    assert min(cross) > 10
    # ...while σ=3 noisy copies stay within the ≤10 budget
    for i in range(20):
        img = rich_image(i)
        noisy = np.clip(
            img + np.random.default_rng(900 + i).normal(0, 3, img.shape),
            0,
            255,
        )
        assert _ham(
            phash_ppm(ppm_bytes(img)), phash_ppm(ppm_bytes(noisy))
        ) <= 10
