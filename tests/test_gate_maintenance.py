"""Registry maintenance for the incremental gates (VERDICT r3 #3):
without a compaction policy the near-dup / embedding / composed-
curation registries accrue one file per touched bucket per batch —
O(buckets × batches). Maintenance must (a) bound live file counts
back to O(buckets), and (b) change NOTHING semantically: identical
probe verdicts after compaction, replay markers intact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.operators.dedup import maintain_gate_state
from nfl_data_pipeline_spark.streaming.embdedup import (
    EmbDedupState,
    process_embdedup_batch,
)
from nfl_data_pipeline_spark.streaming.neardup import (
    NearDupState,
    process_neardup_batch,
)
from tests.conftest import SF_SMOKE

N_BATCHES = 4


def _verdicts(df):
    return {r["doc_id" if "doc_id" in df.columns else "vec_id"]: r["dup_of"] for r in df.collect()}


def _batches(docs, key, n):
    return [docs.filter(F.col(key) % n == i) for i in range(n)]


def test_neardup_maintenance_bounds_files_and_preserves_verdicts(
    spark, tmp_path, request
):
    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 600)
    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    sa, sb = NearDupState(root_a), NearDupState(root_b)
    for i, b in enumerate(_batches(docs, "doc_id", N_BATCHES)):
        process_neardup_batch(spark, b, sa, f"b{i}")
        process_neardup_batch(spark, b, sb, f"b{i}")

    # growth premise: files scale with batches before maintenance
    before = len(sa.sigs.live_files())
    n_buckets = len(
        {f["partition"] for f in sa.sigs.live_files()}
    )
    assert before >= 2 * n_buckets, "premise: multi-file buckets exist"

    stats = maintain_gate_state(spark, sa, min_files=2)
    assert stats["signatures"]["compacted"] > 0
    after = len(sa.sigs.live_files())
    assert after <= n_buckets, f"{after} files for {n_buckets} buckets"
    assert len(sa.sids.live_files()) <= len(
        {f["partition"] for f in sa.sids.live_files()}
    )

    # registry content identical
    cols = ["doc_id", "band_id", "h_lo", "h_hi"]
    a_rows = {tuple(r) for r in sa.sigs.read(spark).select(cols).collect()}
    b_rows = {tuple(r) for r in sb.sigs.read(spark).select(cols).collect()}
    assert a_rows == b_rows

    # probe after maintenance == probe against the uncompacted control
    probe = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    va = _verdicts(process_neardup_batch(spark, probe, sa, "probe"))
    vb = _verdicts(process_neardup_batch(spark, probe, sb, "probe"))
    assert va == vb
    assert any(w != d for d, w in va.items()), "probe found no dups"

    # replay markers survived compaction: replaying b0 is a no-op
    v = sa.sigs.latest_version()
    process_neardup_batch(
        spark, _batches(docs, "doc_id", N_BATCHES)[0], sa, "b0"
    )
    assert sa.sigs.latest_version() == v


def test_embdedup_maintenance_bounds_files_and_preserves_verdicts(
    spark, tmp_path
):
    vecs = load(spark, SF_SMOKE, "embeddings")
    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    sa, sb = EmbDedupState(root_a), EmbDedupState(root_b)
    for i, b in enumerate(_batches(vecs, "vec_id", N_BATCHES)):
        process_embdedup_batch(spark, b, sa, f"b{i}", threshold=0.95)
        process_embdedup_batch(spark, b, sb, f"b{i}", threshold=0.95)

    n_buckets = len({f["partition"] for f in sa.bands.live_files()})
    assert len(sa.bands.live_files()) >= 2 * n_buckets

    stats = maintain_gate_state(spark, sa, min_files=2)
    assert stats["bands"]["compacted"] > 0
    assert len(sa.bands.live_files()) <= n_buckets

    # planted near-copies still dedup to their registered originals
    probe = vecs.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    va = _verdicts(process_embdedup_batch(spark, probe, sa, "p", threshold=0.95))
    vb = _verdicts(process_embdedup_batch(spark, probe, sb, "p", threshold=0.95))
    assert va == vb
    assert all(w == v - 5_000_000 for v, w in va.items()), va


def test_curation_maintenance_runs_every_table(spark, tmp_path):
    from nfl_data_pipeline_spark.streaming.curation import (
        CurationState,
        maintain_curation_state,
        process_curation_batch,
    )

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 400)
    state = CurationState(str(tmp_path / "c"))
    for i, b in enumerate(_batches(docs, "doc_id", 2)):
        process_curation_batch(spark, b, state, f"b{i}")
    before = len(state.neardup.sigs.live_files())
    stats = maintain_curation_state(spark, state, min_files=2)
    assert set(stats) == {"funnel", "neardup", "near_counts", "len_hist"}
    assert len(state.neardup.sigs.live_files()) <= before
    # state still readable and counts intact after maintenance
    from nfl_data_pipeline_spark.streaming.curation import (
        read_curation_counts,
    )

    assert read_curation_counts(spark, state).count() > 0


def test_maintenance_grace_protects_inflight_staging(spark, tmp_path):
    """ADVICE r7: every maintenance helper now vacuums with a non-zero
    grace window by default, so maintenance running concurrently with
    a streaming batch no longer sweeps that batch's staged-but-
    uncommitted files (previously only ForgetQueue.drain passed a
    window, and the commit died with StagedFilesMissing)."""
    import os

    state = NearDupState(str(tmp_path / "nd"))
    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 60)
    process_neardup_batch(spark, docs, state, "b0")
    process_neardup_batch(
        spark,
        load(spark, SF_SMOKE, "documents").filter(
            (F.col("doc_id") >= 60) & (F.col("doc_id") < 120)
        ),
        state,
        "b1",
    )
    # a concurrent writer's in-flight staging: parquet written, no
    # manifest yet
    staged = state.sigs.stage_files(
        state.sigs.read(spark).limit(5), "bucket"
    )
    assert all(os.path.exists(a["path"]) for a in staged)
    maintain_gate_state(spark, state, min_files=1)
    assert all(
        os.path.exists(a["path"]) for a in staged
    ), "default-grace maintenance swept an in-flight staging"
    # the zero-grace (single-writer) mode still reaps it
    maintain_gate_state(spark, state, min_files=1, grace_s=0.0)
    assert not any(os.path.exists(a["path"]) for a in staged)
