"""Constellation audio fingerprinting: robustness of the landmark
hashes on real WAV payloads, and the offset-consistency vote in the
banded pair search."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

from nfl_data_pipeline_spark.operators.multimodal import (
    afp_hashes,
    attach_media,
    audio_near_dups,
)

_RATE = 8000
_HOP = 256


def _wav(x: np.ndarray) -> bytes:
    pcm = np.clip(x, -1, 1)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_RATE)
        w.writeframes(
            b"".join(
                struct.pack("<h", int(v * 32000)) for v in pcm
            )
        )
    return buf.getvalue()


def _clip(seed: int, ms: int = 1500) -> np.ndarray:
    """Mixture of three seeded sine partials — a 'melody' with stable
    spectral peaks."""
    rng = np.random.default_rng(seed)
    t = np.arange(_RATE * ms // 1000) / _RATE
    freqs = rng.uniform(200, 3000, size=3)
    amps = rng.uniform(0.2, 0.4, size=3)
    return sum(a * np.sin(2 * np.pi * f * t) for f, a in zip(freqs, amps))


def _shared_at_offset(pa, pb):
    """Max number of shared hashes at one consistent offset."""
    from collections import Counter

    bt = {}
    for h, t in pb:
        bt.setdefault(h, []).append(t)
    votes = Counter()
    for h, t in pa:
        for t2 in bt.get(h, ()):
            votes[t - t2] += 1
    return max(votes.values()) if votes else 0


def test_hash_robustness():
    base = _clip(1)
    h0 = afp_hashes(_wav(base))
    assert len(h0) > 50
    # identical audio: near-total agreement at offset 0
    assert _shared_at_offset(h0, afp_hashes(_wav(base))) >= 0.9 * len(h0)
    # gain change + mild noise: peak locations survive
    rng = np.random.default_rng(7)
    noisy = 0.6 * base + rng.normal(0, 0.01, base.shape)
    assert _shared_at_offset(h0, afp_hashes(_wav(noisy))) >= 20
    # hop-aligned delay: matches line up at the shifted offset
    delayed = np.concatenate([np.zeros(4 * _HOP), base])
    assert _shared_at_offset(h0, afp_hashes(_wav(delayed))) >= 20
    # unrelated melody: few coincidental matches
    assert _shared_at_offset(h0, afp_hashes(_wav(_clip(2)))) < 8


def test_audio_near_dups_end_to_end(spark):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(4):
        base = _clip(50 + i)
        rows.append((2 * i, _wav(base)))
        dup = 0.7 * base + rng.normal(0, 0.01, base.shape)
        rows.append((2 * i + 1, _wav(dup)))
    df = attach_media(
        spark.createDataFrame(rows, "doc_id long, payload binary"),
        "payload",
        mime="audio/wav",
    )
    got = {
        (r["id_a"], r["id_b"]): r["offset"]
        for r in audio_near_dups(df, min_matches=8).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(4)}
    assert set(got) == planted
    assert all(off == 0 for off in got.values())


def test_packed_hash_field_overflow_rejected():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="f2 field"):
        afp_hashes(_wav(_clip(1)), frame=16384)
    with _pytest.raises(ValueError, match="dt field"):
        afp_hashes(_wav(_clip(1)), zone=300)


def test_rich_clip_generator_landmark_diversity():
    """tests/mediasynth.rich_clip (VERDICT r7 #5): the r5
    stationary tones emit ~10 distinct landmark hashes per clip —
    right at the min_matches=8 verify edge; the note-sequence
    generator must emit an order of magnitude more, with noisy-copy
    offset votes far above any cross-clip coincidence."""
    import numpy as np

    from tests.mediasynth import (
        rich_clip,
        wav_bytes,
    )

    def distinct_votes(pa, pb):
        # the gate's vote: DISTINCT hashes at one consistent offset
        # (raw co-occurrence counts are the degeneracy the r5 study
        # fixed — _shared_at_offset above keeps the raw form for the
        # legacy assertions)
        bt = {}
        for h, t in pb:
            bt.setdefault(h, []).append(t)
        votes = {}
        for h, t in pa:
            for t2 in bt.get(h, ()):
                votes.setdefault(t - t2, set()).add(h)
        return max((len(v) for v in votes.values()), default=0)

    fps = [afp_hashes(wav_bytes(rich_clip(i))) for i in range(30)]
    per_clip = [len({h for h, _ in fp}) for fp in fps]
    assert min(per_clip) > 50
    for i in range(5):
        clip = rich_clip(i)
        noisy = clip + np.random.default_rng(800 + i).normal(
            0, 0.02, clip.shape
        )
        votes = distinct_votes(fps[i], afp_hashes(wav_bytes(noisy)))
        assert votes >= 50
    # cross-clip coincidences stay far below the copy signal
    cross = [
        distinct_votes(fps[i], fps[j])
        for i in range(30)
        for j in range(i + 1, 30)
    ]
    assert max(cross) < 25


def test_audio_near_dups_density_default(spark):
    """The DEFAULT min_matches derives from the corpus's landmark
    density (the r8 crosswalk) instead of the fixed 8 that was tuned
    on the degenerate sparse fixture: on rich content the derived
    threshold is strictly higher, and the gate still finds exactly
    the planted copies with no chain-merging."""
    from tests.mediasynth import rich_clip, wav_bytes
    from nfl_data_pipeline_spark.operators.multimodal import (
        attach_media,
        audio_fingerprints,
        auto_min_matches,
    )

    rows = []
    for i in range(12):
        clip = rich_clip(900 + i)
        rows.append((2 * i, wav_bytes(clip)))
        if i < 5:
            noisy = clip + np.random.default_rng(700 + i).normal(
                0, 0.01, clip.shape
            )
            rows.append((2 * i + 1, wav_bytes(noisy)))
    media = attach_media(
        spark.createDataFrame(rows, "doc_id long, payload binary"),
        "payload",
        mime="audio/wav",
    )
    derived = auto_min_matches(audio_fingerprints(media))
    assert derived > 8  # rich content sizes the dial up

    got = {
        (r["id_a"], r["id_b"])
        for r in audio_near_dups(media).collect()  # default threshold
    }
    want = {(2 * i, 2 * i + 1) for i in range(5)}
    assert got == want
