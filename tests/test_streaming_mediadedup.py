"""Incremental image/audio fingerprint gates (streaming/mediadedup):
single-batch equivalence with the one-shot batch operators,
cross-batch first-arrival-wins on planted copies, replay idempotence,
config-mismatch rejection, and maintenance that bounds file counts
without changing verdicts."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.dedup import connected_components
from nfl_data_pipeline_spark.operators.dedup import maintain_gate_state
from nfl_data_pipeline_spark.operators.multimodal import (
    attach_media,
    audio_near_dups,
    image_near_dups,
)
from nfl_data_pipeline_spark.streaming.mediadedup import (
    AudioDedupState,
    ImageDedupState,
    process_audio_batch,
    process_image_batch,
)
from tests.test_audio_fp import _clip, _wav
# the r9 phash-test rewrite removed the module-local blocky
# generator; the gate tests use the same rich fixtures (the r5
# blocky generator's near-collision degeneracy is exactly what these
# recall dials were re-tuned against in r8)
from tests.mediasynth import (
    ppm_bytes as _ppm,
    rich_image as _image,
)

MAX_HAM = 10
MIN_MATCHES = 8


def _verdict_map(df):
    return {r["doc_id"]: (r["keep"], r["dup_of"]) for r in df.collect()}


def _image_media(spark, rows):
    return attach_media(
        spark.createDataFrame(rows, "doc_id long, payload binary"),
        "payload",
        mime="image/x-portable-pixmap",
    )


def _audio_media(spark, rows):
    return attach_media(
        spark.createDataFrame(rows, "doc_id long, payload binary"),
        "payload",
        mime="audio/wav",
    )


def _image_rows(n=8, plant_pairs=True):
    """n originals; each followed by a noisy near-copy when planted."""
    rows = []
    for i in range(n):
        img = _image(100 + i)
        rows.append((2 * i, _ppm(img)))
        if plant_pairs:
            noisy = np.clip(
                img
                + np.random.default_rng(200 + i).normal(0, 3, img.shape),
                0,
                255,
            )
            rows.append((2 * i + 1, _ppm(noisy)))
    return rows


def _audio_rows(n=5, plant_pairs=True):
    rows = []
    for i in range(n):
        clip = _clip(300 + i)
        rows.append((2 * i, _wav(clip)))
        if plant_pairs:
            # additive noise — landmark peaks survive
            noisy = clip + np.random.default_rng(400 + i).normal(
                0, 0.02, clip.shape
            )
            rows.append((2 * i + 1, _wav(noisy)))
    return rows


def _oneshot_winners(pairs_df, all_ids):
    """Batch twin: one-shot pair operator → components → min-id
    winner per component (exactly the gate's single-batch rule)."""
    comps = connected_components(
        pairs_df.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
    )
    winners = comps.groupBy("component").agg(F.min("node").alias("w"))
    dupmap = {
        r["node"]: r["w"] for r in comps.join(winners, "component").collect()
    }
    return {d: dupmap.get(d, d) for d in all_ids}


# ---- image gate ----------------------------------------------------------


def test_image_single_batch_equals_oneshot(spark, tmp_path):
    rows = _image_rows()
    media = _image_media(spark, rows)
    state = ImageDedupState(str(tmp_path / "img"))
    got = _verdict_map(
        process_image_batch(spark, media, state, "b0", MAX_HAM)
    )
    want = _oneshot_winners(
        image_near_dups(media, max_hamming=MAX_HAM),
        [r[0] for r in rows],
    )
    assert {d: v[1] for d, v in got.items()} == want
    kept = {d for d, v in got.items() if v[0] == 1}
    # registry holds exactly the winners, MAX_HAM+1 chunk rows each
    reg = state.chunks.read(spark)
    assert {r["doc_id"] for r in reg.select("doc_id").distinct().collect()} == kept
    assert reg.count() == (MAX_HAM + 1) * len(kept)


def test_image_cross_batch_first_arrival_wins(spark, tmp_path):
    state = ImageDedupState(str(tmp_path / "img"))
    b1 = _image_media(spark, _image_rows(plant_pairs=False))
    v1 = _verdict_map(process_image_batch(spark, b1, state, "b1", MAX_HAM))
    kept1 = [d for d, v in v1.items() if v[0] == 1]
    # batch 2: noisy copies of 3 kept images under new ids
    clones = []
    for d in sorted(kept1)[:3]:
        img = _image(100 + d // 2)
        noisy = np.clip(
            img + np.random.default_rng(900 + d).normal(0, 3, img.shape),
            0,
            255,
        )
        clones.append((d + 1_000_000, _ppm(noisy)))
    v2 = _verdict_map(
        process_image_batch(
            spark, _image_media(spark, clones), state, "b2", MAX_HAM
        )
    )
    for new_id, (keep, dup_of) in v2.items():
        assert keep == 0, f"clone {new_id} was not deduplicated"
        assert dup_of == new_id - 1_000_000
    reg_ids = {
        r["doc_id"]
        for r in state.chunks.read(spark).select("doc_id").collect()
    }
    assert not any(i >= 1_000_000 for i in reg_ids)


def test_image_replay_and_config_guard(spark, tmp_path):
    state = ImageDedupState(str(tmp_path / "img"))
    media = _image_media(spark, _image_rows())
    first = _verdict_map(
        process_image_batch(spark, media, state, "b0", MAX_HAM)
    )
    v = state.chunks.latest_version()
    replay = _verdict_map(
        process_image_batch(spark, media, state, "b0", MAX_HAM)
    )
    assert replay == first
    assert state.chunks.latest_version() == v  # no second commit
    # a different banding layout must be rejected up front
    with pytest.raises(ValueError, match="gate config"):
        process_image_batch(spark, media, state, "b1", max_hamming=4)


def test_image_maintenance_bounds_files_preserves_verdicts(spark, tmp_path):
    sa = ImageDedupState(str(tmp_path / "a"))
    sb = ImageDedupState(str(tmp_path / "b"))
    rows = _image_rows(12, plant_pairs=False)
    for i in range(3):
        batch = _image_media(spark, rows[4 * i : 4 * (i + 1)])
        process_image_batch(spark, batch, sa, f"b{i}", MAX_HAM)
        process_image_batch(spark, batch, sb, f"b{i}", MAX_HAM)
    n_buckets = len({f["partition"] for f in sa.chunks.live_files()})
    # premise: per-batch commits left multiple files in some buckets
    # (with _NB=64 not every bucket doubles up, but compaction must
    # still have work)
    assert len(sa.chunks.live_files()) > n_buckets
    stats = maintain_gate_state(spark, sa, min_files=2)
    assert stats["chunks"]["compacted"] > 0
    assert len(sa.chunks.live_files()) <= n_buckets
    # probe after compaction == probe against the uncompacted control
    probe_rows = [(5_000_000 + d, p) for d, p in rows[:4]]
    probe = _image_media(spark, probe_rows)
    va = _verdict_map(process_image_batch(spark, probe, sa, "probe", MAX_HAM))
    vb = _verdict_map(process_image_batch(spark, probe, sb, "probe", MAX_HAM))
    assert va == vb
    assert all(v[0] == 0 for v in va.values()), "probe copies not caught"


# ---- audio gate ----------------------------------------------------------


def test_audio_single_batch_equals_oneshot(spark, tmp_path):
    rows = _audio_rows()
    media = _audio_media(spark, rows)
    state = AudioDedupState(str(tmp_path / "au"))
    got = _verdict_map(
        process_audio_batch(spark, media, state, "b0", MIN_MATCHES)
    )
    want = _oneshot_winners(
        audio_near_dups(media, min_matches=MIN_MATCHES),
        [r[0] for r in rows],
    )
    assert {d: v[1] for d, v in got.items()} == want
    kept = {d for d, v in got.items() if v[0] == 1}
    reg_ids = {
        r["doc_id"]
        for r in state.landmarks.read(spark).select("doc_id").distinct().collect()
    }
    assert reg_ids == kept


def test_audio_cross_batch_first_arrival_wins(spark, tmp_path):
    state = AudioDedupState(str(tmp_path / "au"))
    b1 = _audio_media(spark, _audio_rows(plant_pairs=False))
    v1 = _verdict_map(
        process_audio_batch(spark, b1, state, "b1", MIN_MATCHES)
    )
    kept1 = [d for d, v in v1.items() if v[0] == 1]
    clones = []
    for d in sorted(kept1)[:3]:
        clip = _clip(300 + d // 2)
        noisy = clip + np.random.default_rng(800 + d).normal(
            0, 0.02, clip.shape
        )
        clones.append((d + 1_000_000, _wav(noisy)))
    v2 = _verdict_map(
        process_audio_batch(
            spark, _audio_media(spark, clones), state, "b2", MIN_MATCHES
        )
    )
    for new_id, (keep, dup_of) in v2.items():
        assert keep == 0, f"clone {new_id} was not deduplicated"
        assert dup_of == new_id - 1_000_000
    reg_ids = {
        r["doc_id"]
        for r in state.landmarks.read(spark).select("doc_id").collect()
    }
    assert not any(i >= 1_000_000 for i in reg_ids)


def test_audio_replay_and_config_guard(spark, tmp_path):
    state = AudioDedupState(str(tmp_path / "au"))
    media = _audio_media(spark, _audio_rows())
    first = _verdict_map(
        process_audio_batch(spark, media, state, "b0", MIN_MATCHES)
    )
    v = state.landmarks.latest_version()
    replay = _verdict_map(
        process_audio_batch(spark, media, state, "b0", MIN_MATCHES)
    )
    assert replay == first
    assert state.landmarks.latest_version() == v
    # a different vote threshold changes verdicts → rejected
    with pytest.raises(ValueError, match="gate config"):
        process_audio_batch(spark, media, state, "b1", min_matches=20)


def test_audio_maintenance_bounds_files_preserves_verdicts(spark, tmp_path):
    sa = AudioDedupState(str(tmp_path / "a"))
    sb = AudioDedupState(str(tmp_path / "b"))
    rows = _audio_rows(6, plant_pairs=False)
    for i in range(3):
        batch = _audio_media(spark, rows[2 * i : 2 * (i + 1)])
        process_audio_batch(spark, batch, sa, f"b{i}", MIN_MATCHES)
        process_audio_batch(spark, batch, sb, f"b{i}", MIN_MATCHES)
    n_buckets = len({f["partition"] for f in sa.landmarks.live_files()})
    # premise: multi-file buckets exist (small batches touch a subset
    # of buckets each, so the growth is > buckets, not 2×)
    assert len(sa.landmarks.live_files()) > n_buckets
    stats = maintain_gate_state(spark, sa, min_files=2)
    assert stats["landmarks"]["compacted"] > 0
    assert len(sa.landmarks.live_files()) <= n_buckets
    probe_rows = [(5_000_000 + d, p) for d, p in rows[:2]]
    probe = _audio_media(spark, probe_rows)
    va = _verdict_map(
        process_audio_batch(spark, probe, sa, "probe", MIN_MATCHES)
    )
    vb = _verdict_map(
        process_audio_batch(spark, probe, sb, "probe", MIN_MATCHES)
    )
    assert va == vb
    assert all(v[0] == 0 for v in va.values()), "probe copies not caught"


def test_image_max_bucket_capped_doc_still_gets_verdict(spark, tmp_path):
    """With a hot-bucket cap tight enough to strip every chunk row of
    identical boilerplate images, each doc still receives its
    (trivially kept) verdict — the base set is the decoded fp frame,
    not the surviving chunk rows. The cap also rides the stamped
    config: a later batch under a different cap is rejected."""
    state = ImageDedupState(str(tmp_path / "img"))
    img = _image(42)
    rows = [(i, _ppm(img)) for i in range(6)]  # 6 identical images
    media = _image_media(spark, rows)
    got = _verdict_map(
        process_image_batch(
            spark, media, state, "b0", MAX_HAM, max_bucket=2
        )
    )
    assert set(got) == set(range(6))  # every doc has a verdict
    # identical hashes exceed the cap in every bucket → no candidate
    # pairs → all kept (the cap trades recall for bounded joins)
    assert all(v[0] == 1 for v in got.values())
    with pytest.raises(ValueError, match="gate config"):
        process_image_batch(spark, media, state, "b1", MAX_HAM)


def test_audio_df_cap_rides_the_config(spark, tmp_path):
    state = AudioDedupState(str(tmp_path / "au"))
    media = _audio_media(spark, _audio_rows(2, plant_pairs=False))
    process_audio_batch(
        spark, media, state, "b0", MIN_MATCHES, max_df_hash=50
    )
    with pytest.raises(ValueError, match="gate config"):
        process_audio_batch(spark, media, state, "b1", MIN_MATCHES)


# ---- registry-side hot caps + partition-scoped probe ---------------------


def _flip_bit_i64(v, bit):
    """Flip one bit of a SIGNED 64-bit value (python ints don't wrap,
    so re-sign manually)."""
    x = (v & ((1 << 64) - 1)) ^ (1 << bit)
    return x - (1 << 64) if x >= (1 << 63) else x


def _seed_image_registry(spark, state, probe_phash, n_docs, max_bucket):
    """Hand-commit a registry in which ``n_docs`` stored images are
    1 bit from ``probe_phash`` (flips confined to the top slice), so
    every OTHER slice value accumulates ``n_docs`` registry rows —
    the cross-batch accumulation the batch-side cap can't see."""
    from nfl_data_pipeline_spark.operators.dedup import hamming_chunk_rows

    fps = spark.createDataFrame(
        [
            (100 + k, _flip_bit_i64(probe_phash, 63 - k))
            for k in range(n_docs)
        ],
        "doc_id long, phash long",
    )
    rows = hamming_chunk_rows(fps, "doc_id", "phash", MAX_HAM).select(
        F.col("_id").alias("doc_id"),
        F.col("_fp").alias("fp"),
        "chunk_id",
        "chunk_val",
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("chunk_id", "chunk_val"), F.lit(64)).cast("long")
    )
    cfg = {
        "fp": "phash_ppm/64",
        "max_hamming": MAX_HAM,
        "max_bucket": max_bucket,
        "buckets": 64,
    }
    adds = state.chunks.stage_files(rows, "bucket")
    state.chunks.commit(adds, batch_id="seed", meta={"gate_config": cfg})


def test_image_registry_side_hot_cap(spark, tmp_path):
    """streaming/mediadedup: max_bucket must bound the STORED side of
    the candidate join too — a chunk value that accumulated > cap
    registry rows across batches stops generating candidates (capped
    state keeps the probe; uncapped control detects the dup)."""
    rows = _image_rows(1, plant_pairs=False)
    media = _image_media(spark, rows)
    from nfl_data_pipeline_spark.operators.multimodal import image_phash

    probe_phash = image_phash(media).collect()[0]["phash"]

    capped = ImageDedupState(str(tmp_path / "capped"))
    _seed_image_registry(spark, capped, probe_phash, 3, max_bucket=2)
    v = _verdict_map(
        process_image_batch(spark, media, capped, "p", MAX_HAM, max_bucket=2)
    )
    assert v[0] == (1, 0), "hot registry value still generated candidates"

    control = ImageDedupState(str(tmp_path / "control"))
    _seed_image_registry(spark, control, probe_phash, 3, max_bucket=None)
    v = _verdict_map(process_image_batch(spark, media, control, "p", MAX_HAM))
    assert v[0] == (0, 100), "control must match via the same value"


def test_audio_registry_side_df_cap(spark, tmp_path):
    """max_df_hash applied to stored landmarks: a hash whose registry
    document frequency exceeds the cap stops voting."""
    from nfl_data_pipeline_spark.operators.multimodal import (
        audio_fingerprints,
    )

    rows = _audio_rows(1, plant_pairs=False)
    media = _audio_media(spark, rows)
    lm = audio_fingerprints(media).collect()

    def seed(state, max_df_hash):
        reg = spark.createDataFrame(
            [
                (100 + k, r["h"], r["t"] + k + 1)
                for k in range(3)
                for r in lm
            ],
            "doc_id long, h long, t int",
        ).withColumn("bucket", F.pmod(F.xxhash64("h"), F.lit(64)).cast("long"))
        cfg = {
            "fp": "afp/wang2003",
            "frame": 512,
            "hop": 256,
            "peaks": 3,
            "fan_out": 3,
            "zone": 6,
            "min_matches": MIN_MATCHES,
            "max_df_hash": max_df_hash,
            "buckets": 64,
        }
        adds = state.landmarks.stage_files(reg, "bucket")
        state.landmarks.commit(adds, batch_id="seed", meta={"gate_config": cfg})

    capped = AudioDedupState(str(tmp_path / "capped"))
    seed(capped, 2)
    v = _verdict_map(
        process_audio_batch(
            spark, media, capped, "p", MIN_MATCHES, max_df_hash=2
        )
    )
    assert v[0] == (1, 0), "hot registry hashes still voted"

    control = AudioDedupState(str(tmp_path / "control"))
    seed(control, None)
    v = _verdict_map(
        process_audio_batch(spark, media, control, "p", MIN_MATCHES)
    )
    assert v[0] == (0, 100), "control must match at a consistent offset"


def test_image_probe_reads_only_touched_buckets(spark, tmp_path):
    """The registry read under a probe batch is manifest-pruned to
    the batch's touched buckets: pruned file bytes < total registry
    bytes once the registry spans more buckets than one probe image
    touches (≤ MAX_HAM+1 chunk values)."""
    state = ImageDedupState(str(tmp_path / "s"))
    rows = _image_rows(12, plant_pairs=False)
    for i in range(3):
        batch = _image_media(spark, rows[4 * i : 4 * (i + 1)])
        process_image_batch(spark, batch, state, f"b{i}", MAX_HAM)
    probe = _image_media(spark, [(9_000_000, rows[0][1])])
    from nfl_data_pipeline_spark.operators.dedup import hamming_chunk_rows
    from nfl_data_pipeline_spark.operators.multimodal import image_phash
    from nfl_data_pipeline_spark.streaming.mediadedup import (
        _touched_buckets,
    )

    chunks = hamming_chunk_rows(
        image_phash(probe), "doc_id", "phash", MAX_HAM
    )
    touched = _touched_buckets(chunks, 64, "chunk_id", "chunk_val")
    total = sum(f["bytes"] for f in state.chunks.live_files())
    pruned = sum(
        f["bytes"] for f in state.chunks.live_files(partitions=touched)
    )
    assert len(touched) <= MAX_HAM + 1
    assert pruned < total, "probe read is not partition-pruned"
    # and the pruned probe still catches the copy
    v = _verdict_map(
        process_image_batch(spark, probe, state, "probe", MAX_HAM)
    )
    assert v[9_000_000][0] == 0 and v[9_000_000][1] == 0


def test_unstamped_registry_migration_path(spark, tmp_path):
    """jobs/txlog.stamp_gate_config (ADVICE r5/r6): a registry that
    predates config stamping is rejected by the probe guard, but the
    operator can stamp the config it was written under ONCE — after
    which probes work and detect dups; restamping a different cfg
    refuses."""
    from nfl_data_pipeline_spark.jobs.txlog import stamp_gate_config

    state = ImageDedupState(str(tmp_path / "img"))
    rows = _image_rows(2, plant_pairs=False)
    media = _image_media(spark, rows)
    process_image_batch(spark, media, state, "b0", MAX_HAM)
    # simulate a pre-stamping (legacy) registry
    state.chunks.commit([], meta={"gate_config": None})

    probe = _image_media(spark, [(77, rows[0][1])])
    with pytest.raises(ValueError, match="predates"):
        process_image_batch(spark, probe, state, "b1", MAX_HAM)

    cfg = {
        "fp": "phash_ppm/64",
        "max_hamming": MAX_HAM,
        "max_bucket": None,
        "buckets": 64,
    }
    assert stamp_gate_config(state.chunks, cfg, "image")
    assert not stamp_gate_config(state.chunks, cfg, "image")  # no-op
    v = _verdict_map(process_image_batch(spark, probe, state, "b1", MAX_HAM))
    assert v[77] == (0, 0), "migrated registry must detect the copy"

    with pytest.raises(ValueError, match="refusing to restamp"):
        stamp_gate_config(
            state.chunks, {**cfg, "max_hamming": 4}, "image"
        )
    # empty registry: nothing to stamp
    empty = ImageDedupState(str(tmp_path / "empty"))
    assert not stamp_gate_config(empty.chunks, cfg, "image")


def test_image_replay_exact_under_registry_cap(spark, tmp_path):
    """streaming/mediadedup r8: a replay probes the snapshot BEFORE
    its own/later commits (TxTable.read_before_batch), so a key that
    crossed the registry-side cap AFTER the batch ran is still
    uncapped on replay — verdicts reproduce exactly. (Probing the
    head instead would cap the key and flip the dup verdict.)"""
    rows = _image_rows(1, plant_pairs=False)
    media = _image_media(spark, rows)
    from nfl_data_pipeline_spark.operators.multimodal import image_phash

    probe_phash = image_phash(media).collect()[0]["phash"]
    state = ImageDedupState(str(tmp_path / "s"))
    # 3 stored near-copies, cap exactly 3: the shared slices sit AT
    # the cap boundary (kept), so the original run detects the dup
    _seed_image_registry(spark, state, probe_phash, 3, max_bucket=3)
    first = _verdict_map(
        process_image_batch(spark, media, state, "p", MAX_HAM, max_bucket=3)
    )
    assert first[0] == (0, 100), "boundary key must match originally"
    # a LATER commit pushes the shared slice values over the cap
    # (4th 1-bit copy: slices 1..10 now count 4 > 3)
    extra = spark.createDataFrame(
        [(103, _flip_bit_i64(probe_phash, 60))], "doc_id long, phash long"
    )
    from nfl_data_pipeline_spark.operators.dedup import hamming_chunk_rows

    extra_rows = hamming_chunk_rows(extra, "doc_id", "phash", MAX_HAM).select(
        F.col("_id").alias("doc_id"),
        F.col("_fp").alias("fp"),
        "chunk_id",
        "chunk_val",
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("chunk_id", "chunk_val"), F.lit(64)).cast("long"),
    )
    adds = state.chunks.stage_files(extra_rows, "bucket")
    state.chunks.commit(adds, batch_id="later")
    # head-probe sanity: the same image as a NEW batch now caps out
    head = _verdict_map(
        process_image_batch(
            spark,
            _image_media(spark, [(7, rows[0][1])]),
            state,
            "p2",
            MAX_HAM,
            max_bucket=3,
        )
    )
    assert head[7] == (1, 7), "post-commit head must cap the key"
    # replay of the ORIGINAL batch still sees the pre-batch snapshot
    replay = _verdict_map(
        process_image_batch(spark, media, state, "p", MAX_HAM, max_bucket=3)
    )
    assert replay == first


def test_legacy_bucket_stamp_upgrade(spark, tmp_path):
    """A registry stamped before bucket counts joined the gate config
    (laid out at the then-constant 16) keeps working: the probe
    derives 16 from the legacy default, upgrades the stamp in place,
    and still detects dups at the 16-bucket layout."""
    from nfl_data_pipeline_spark.operators.dedup import hamming_chunk_rows
    from nfl_data_pipeline_spark.operators.multimodal import image_phash

    rows = _image_rows(1, plant_pairs=False)
    media = _image_media(spark, rows)
    probe_phash = image_phash(media).collect()[0]["phash"]
    state = ImageDedupState(str(tmp_path / "legacy"))
    fps = spark.createDataFrame(
        [(100, _flip_bit_i64(probe_phash, 63))], "doc_id long, phash long"
    )
    reg = hamming_chunk_rows(fps, "doc_id", "phash", MAX_HAM).select(
        F.col("_id").alias("doc_id"),
        F.col("_fp").alias("fp"),
        "chunk_id",
        "chunk_val",
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("chunk_id", "chunk_val"), F.lit(16)).cast("long"),
    )
    legacy_cfg = {
        "fp": "phash_ppm/64",
        "max_hamming": MAX_HAM,
        "max_bucket": None,
    }  # no "buckets" key — the pre-r7 stamp shape
    adds = state.chunks.stage_files(reg, "bucket")
    state.chunks.commit(adds, batch_id="seed", meta={"gate_config": legacy_cfg})

    v = _verdict_map(process_image_batch(spark, media, state, "b1", MAX_HAM))
    assert v[0] == (0, 100), "legacy 16-bucket registry must still match"
    stamped = state.chunks.meta().get("gate_config")
    assert stamped["buckets"] == 16, "stamp not upgraded in place"
    # and the upgraded stamp keeps passing the guard on the next batch
    v2 = _verdict_map(
        process_image_batch(
            spark, _image_media(spark, [(9, rows[0][1])]), state, "b2", MAX_HAM
        )
    )
    assert v2[9][0] == 0


def test_rebucket_media_registry_migration(spark, tmp_path):
    """rebucket_media_registry: one pinned commit re-lays the rows
    out at the target bucket count and updates the stamp; probes at
    the new layout still detect the stored copies."""
    from nfl_data_pipeline_spark.streaming.mediadedup import (
        rebucket_media_registry,
    )

    state = ImageDedupState(str(tmp_path / "m"))
    rows = _image_rows(4, plant_pairs=False)
    process_image_batch(spark, _image_media(spark, rows), state, "b0", MAX_HAM)
    assert state.chunks.meta()["gate_config"]["buckets"] == 64
    before = state.chunks.read(spark).count()

    v_new = rebucket_media_registry(
        spark, state.chunks, ["chunk_id", "chunk_val"], 32, "image"
    )
    cfg = state.chunks.meta(v_new)["gate_config"]
    assert cfg["buckets"] == 32
    after = state.chunks.read(spark)
    assert after.count() == before
    # every row sits in its 32-bucket partition
    bad = after.filter(
        F.pmod(F.xxhash64("chunk_id", "chunk_val"), F.lit(32)).cast("long")
        != F.col("bucket").cast("long")
    ).count()
    assert bad == 0
    # idempotent: already at target → no new version
    assert rebucket_media_registry(
        spark, state.chunks, ["chunk_id", "chunk_val"], 32, "image"
    ) == v_new
    # probes at the migrated layout still catch a copy
    v = _verdict_map(
        process_image_batch(
            spark, _image_media(spark, [(900, rows[0][1])]), state, "b1", MAX_HAM
        )
    )
    assert v[900][0] == 0


def test_replay_after_rebucket_uses_snapshot_layout(spark, tmp_path):
    """A replay's pruning set must be computed under the PRE-batch
    snapshot's stamped bucket count, not the head's: after a
    rebucket migration the head count does not describe the old
    snapshot's file layout, and pruning with it silently drops true
    matches — flipping the replayed verdict."""
    from nfl_data_pipeline_spark.streaming.mediadedup import (
        rebucket_media_registry,
    )

    state = ImageDedupState(str(tmp_path / "m"))
    rows = _image_rows(4, plant_pairs=False)
    process_image_batch(spark, _image_media(spark, rows), state, "b0", MAX_HAM)
    # b1 probes b0's registry (64-bucket layout) and finds its copy
    probe = _image_media(spark, [(900, rows[0][1])])
    first = _verdict_map(
        process_image_batch(spark, probe, state, "b1", MAX_HAM)
    )
    assert first[900][0] == 0
    # migrate the layout out from under the replay
    rebucket_media_registry(
        spark, state.chunks, ["chunk_id", "chunk_val"], 32, "image"
    )
    assert state.chunks.meta()["gate_config"]["buckets"] == 32
    replay = _verdict_map(
        process_image_batch(spark, probe, state, "b1", MAX_HAM)
    )
    assert replay == first, "replay verdicts drifted after rebucket"


def test_audio_gate_density_default_stamps_and_rides(spark, tmp_path):
    """min_matches=None end to end: a FRESH registry derives the
    verify threshold from the first batch's landmark density and
    stamps it; later default-call batches read the STAMP (the config
    guard would raise on any drift); a registry built under an
    explicit dial keeps that dial when later callers pass None."""
    from tests.mediasynth import rich_clip, wav_bytes
    from nfl_data_pipeline_spark.operators.multimodal import (
        audio_fingerprints,
        auto_min_matches,
    )

    rows = []
    for i in range(8):
        clip = rich_clip(300 + i)
        rows.append((2 * i, wav_bytes(clip)))
        noisy = clip + np.random.default_rng(900 + i).normal(
            0, 0.01, clip.shape
        )
        rows.append((2 * i + 1, wav_bytes(noisy)))
    media = _audio_media(spark, rows)
    state = AudioDedupState(str(tmp_path / "au"))
    v1 = _verdict_map(process_audio_batch(spark, media, state, "b0"))
    stamped = state.landmarks.meta(state.landmarks.latest_version())[
        "gate_config"
    ]["min_matches"]
    assert stamped > MIN_MATCHES  # rich content sizes the dial up
    assert stamped == auto_min_matches(audio_fingerprints(media))
    # no chain-merge at the derived dial: every original keeps, every
    # planted copy loses to its original
    assert {d for d, v in v1.items() if v[0] == 1} == {2 * i for i in range(8)}
    assert all(v1[2 * i + 1][1] == 2 * i for i in range(8))
    # a later default-call batch rides the stamp (config equality)
    probe = _audio_media(spark, [(5_000_000, rows[0][1])])
    v2 = _verdict_map(process_audio_batch(spark, probe, state, "b1"))
    assert v2[5_000_000] == (0, 0)

    # explicit-dial registry: None later resolves to ITS stamp, not a
    # fresh derivation
    sparse = AudioDedupState(str(tmp_path / "au2"))
    m2 = _audio_media(spark, [(0, _wav(_clip(1))), (1, _wav(_clip(2)))])
    process_audio_batch(spark, m2, sparse, "b0", min_matches=MIN_MATCHES)
    process_audio_batch(
        spark, _audio_media(spark, [(7, _wav(_clip(3)))]), sparse, "b1"
    )  # must not raise a gate-config mismatch
    assert sparse.landmarks.meta(sparse.landmarks.latest_version())[
        "gate_config"
    ]["min_matches"] == MIN_MATCHES


def test_redial_min_matches_restamps_future_verdicts(spark, tmp_path):
    """The content-drift escape hatch: redial_min_matches restamps
    the dial metadata-only (rows untouched), later batches ride the
    NEW stamp (no config mismatch), and a no-op redial returns the
    current version without committing."""
    from nfl_data_pipeline_spark.streaming.mediadedup import (
        redial_min_matches,
    )

    state = AudioDedupState(str(tmp_path / "au"))
    media = _audio_media(
        spark, [(0, _wav(_clip(1))), (2, _wav(_clip(2)))]
    )
    process_audio_batch(spark, media, state, "b0", min_matches=8)
    v0 = state.landmarks.latest_version()
    assert redial_min_matches(state.landmarks, 8) == v0  # no-op
    v1 = redial_min_matches(state.landmarks, 25)
    assert v1 > v0
    meta = state.landmarks.meta(v1)["gate_config"]
    assert meta["min_matches"] == 25
    # a default-dial batch now rides the NEW stamp; an explicit batch
    # at the old dial raises the mismatch loudly
    process_audio_batch(
        spark, _audio_media(spark, [(7, _wav(_clip(3)))]), state, "b1"
    )
    assert state.landmarks.meta(state.landmarks.latest_version())[
        "gate_config"
    ]["min_matches"] == 25
    with pytest.raises(ValueError, match="gate config"):
        process_audio_batch(
            spark,
            _audio_media(spark, [(9, _wav(_clip(4)))]),
            state,
            "b2",
            min_matches=8,
        )


def test_image_gate_dedups_across_codecs(spark, tmp_path):
    """r10: PNG is a native codec and the pHash is codec-invariant,
    so a PNG re-encode of a registered PPM image is caught as a dup
    by the incremental gate — mixed-mime media tables dedup as one
    corpus."""
    from tests.mediasynth import png_bytes

    state = ImageDedupState(str(tmp_path / "img"))
    img_a, img_b = _image(400), _image(401)
    b1 = attach_media(
        spark.createDataFrame(
            [(1, _ppm(img_a)), (2, _ppm(img_b))],
            "doc_id long, payload binary",
        ),
        "payload",
        mime="image/x-portable-pixmap",
    )
    v1 = _verdict_map(process_image_batch(spark, b1, state, "b1", MAX_HAM))
    assert all(v[0] == 1 for v in v1.values())
    # batch 2: the SAME pixels as doc 1, re-encoded as PNG (Paeth
    # filter), plus a fresh PNG image
    b2 = attach_media(
        spark.createDataFrame(
            [
                (10, png_bytes(img_a.astype(np.uint8), filter_type=4)),
                (11, png_bytes(_image(402).astype(np.uint8))),
            ],
            "doc_id long, payload binary",
        ),
        "payload",
        mime="image/png",
    )
    v2 = _verdict_map(process_image_batch(spark, b2, state, "b2", MAX_HAM))
    assert v2[10] == (0, 1)  # PNG re-encode deduped against PPM original
    assert v2[11][0] == 1  # fresh image kept
