"""Composed incremental curation (streaming/curation.py): the kept
set equals funnel survivors minus near-duplicates, counts stay
monotone (n_final ≥ n_neardup), cross-batch clones of kept docs are
dropped by the near-dup gate, and a crash between sub-states replays
to identical results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.streaming.curation import (
    CurationState,
    funnel_survivors,
    process_curation_batch,
    read_curation_counts,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF_SMOKE, "documents")


def _kept_ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_single_batch_composition(spark, tmp_path, docs):
    state = CurationState(str(tmp_path / "s"))
    kept = process_curation_batch(spark, docs, state, "b0")
    surv = funnel_survivors(spark, docs, state.funnel)
    assert set(_kept_ids(kept)) <= {r["doc_id"] for r in surv.collect()}
    rep = read_curation_counts(spark, state)
    for r in rep.collect():
        assert r["n_final"] >= r["n_neardup"] >= 0
        assert r["n_input"] >= r["n_url"] >= r["n_lang"] >= r["n_quality"]
    total_kept = sum(r["n_neardup"] for r in rep.collect())
    assert total_kept == kept.count() > 0


def test_cross_batch_clone_dropped_by_neardup(spark, tmp_path, docs):
    state = CurationState(str(tmp_path / "s"))
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    kept1 = process_curation_batch(spark, b1, state, "b1")
    # clone 3 kept docs under new ids with a one-word text edit: an
    # exact clone would die at the exact gate (same fp), so the edit
    # is what routes the drop through the NEAR-dup gate. Crucially,
    # the edit must change the fingerprint WITHOUT moving the
    # doc's cross-entropy: a novel token (c≈3 in the merged LM) costs
    # ~ -log(3/N)/len ≈ +0.1 nats/token, which flips near-cut docs at
    # the ppl gate and masks what this test is about. Repeating the
    # doc's OWN first word changes fp, leaves x essentially unchanged.
    base_ids = kept1.orderBy("doc_id").limit(3).select("doc_id")
    full_rows = docs.join(base_ids, "doc_id")  # full documents schema
    clones = full_rows.withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    ).withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" "), F.split(F.col("text"), " ")[0]),
    )
    kept2 = process_curation_batch(spark, clones, state, "b2")
    assert kept2.count() == 0, (
        "near-clone of an already-kept doc slipped through: "
        f"{_kept_ids(kept2)}"
    )
    # and the drop happened at the NEAR-DUP gate, not a funnel gate:
    # the clones pass the funnel (distinct fp, same quality profile)
    surv2 = funnel_survivors(spark, clones, state.funnel)
    assert surv2.count() == 3, "clones should have survived the funnel"


def test_replay_after_crash_between_substates(spark, tmp_path, docs):
    """Crash after the funnel commits but before the near-dup
    registry/counts commit; the replay must converge to the same
    report as an uninterrupted run."""
    b = docs.filter(F.col("doc_id") % 3 == 0)

    ref = CurationState(str(tmp_path / "ref"))
    process_curation_batch(spark, b, ref, "b0")
    want = sorted(map(tuple, read_curation_counts(spark, ref).collect()))

    crash = CurationState(str(tmp_path / "crash"))
    import nfl_data_pipeline_spark.streaming.curation as cur

    orig = cur.process_neardup_batch

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before neardup")

    cur.process_neardup_batch = boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            process_curation_batch(spark, b, crash, "b0")
    finally:
        cur.process_neardup_batch = orig

    assert crash.funnel.counts.is_applied("b0")
    assert crash.neardup.sigs.latest_version() is None
    process_curation_batch(spark, b, crash, "b0")  # replay
    got = sorted(map(tuple, read_curation_counts(spark, crash).collect()))
    assert got == want


def test_kept_length_quantiles_maintained(spark, tmp_path, docs):
    """The length-histogram state tracks exactly the kept docs: the
    maintained p50/p95 equal a direct histogram recompute over the
    union of all batches' kept sets."""
    from nfl_data_pipeline_spark.operators.sketches import (
        histogram_counts,
        histogram_quantiles,
    )
    from nfl_data_pipeline_spark.streaming.curation import (
        read_kept_length_quantiles,
    )

    state = CurationState(str(tmp_path / "s"))
    kept_all = None
    for i in range(2):
        kept = process_curation_batch(
            spark, docs.filter(F.col("doc_id") % 2 == i), state, f"b{i}"
        )
        kept_all = kept if kept_all is None else kept_all.unionByName(kept)

    got = {
        r["source"]: (r["p50"], r["p95"])
        for r in read_kept_length_quantiles(spark, state, (0.5, 0.95)).collect()
    }
    lens = kept_all.select(
        "source", F.size(F.split("text", " ")).cast("long").alias("nt")
    )
    want = {
        r["source"]: (r["p50"], r["p95"])
        for r in histogram_quantiles(
            histogram_counts(lens, ["source"], "nt"), ["source"], (0.5, 0.95)
        ).collect()
    }
    assert got == want


def test_curation_stream_wiring_and_checkpoint_rollback(
    spark, tmp_path, docs
):
    """foreachBatch wiring end-to-end, then a checkpoint wipe and
    re-run: replayed engine batch ids hit the tx markers and every
    sub-state stays unchanged — the composed chain's streaming
    exactly-once."""
    import shutil

    from nfl_data_pipeline_spark.streaming.curation import (
        curation_maintenance_stream,
    )

    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    state = CurationState(str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt")
    q = curation_maintenance_stream(
        spark, spark.readStream.schema(schema).parquet(src), state, ckpt
    )
    q.awaitTermination(240)
    want = sorted(map(tuple, read_curation_counts(spark, state).collect()))
    v_near = state.neardup.sigs.latest_version()
    assert any(r[-1] > 0 for r in want)  # near-dup survivors recorded

    shutil.rmtree(ckpt)
    q2 = curation_maintenance_stream(
        spark, spark.readStream.schema(schema).parquet(src), state, ckpt
    )
    q2.awaitTermination(240)
    got = sorted(map(tuple, read_curation_counts(spark, state).collect()))
    assert got == want
    assert state.neardup.sigs.latest_version() == v_near  # no re-commit


def test_frequent_ngrams_wired_into_curation(spark, tmp_path, docs):
    """The frequent-items gate is an ordered stage of
    process_curation_batch (track_frequent=True): after all batches
    the report's keys bracket — and its certain keys cover — the
    heavy 5-grams of the union of kept docs (capacity ≥ φ⁻¹ no-miss
    + bracketing bounds), with no manual update calls."""
    from collections import Counter

    from nfl_data_pipeline_spark.streaming.curation import (
        read_frequent_ngrams,
    )

    PHI_INV = 300
    state = CurationState(
        str(tmp_path / "cf"), track_frequent=True, frequent_capacity=PHI_INV
    )
    assert read_frequent_ngrams(spark, state) is None  # nothing yet
    all_kept_texts = []
    for i in range(2):
        batch = docs.filter(F.col("doc_id") % 2 == i)
        kept = process_curation_batch(spark, batch, state, f"b{i}")
        all_kept_texts += [r["text"] for r in kept.select("text").collect()]

    true = Counter()
    for t in all_kept_texts:
        toks = t.split(" ")
        for j in range(len(toks) - 4):
            true[" ".join(toks[j : j + 5])] += 1
    n = sum(true.values())
    report = {
        r["key"]: r
        for r in read_frequent_ngrams(spark, state, phi_inv=PHI_INV).collect()
    }
    for k, c in true.items():
        if c * PHI_INV >= n:
            assert k in report, k
    for k, r in report.items():
        assert r["count_lower"] <= true[k] <= r["count_upper"]


def test_frequent_stage_crash_replay_idempotent(spark, tmp_path, docs):
    """Crash AFTER the near-dup registry and count merges commit but
    BEFORE the frequent-items fold: the replay must converge to the
    same frequent state and counts as an uninterrupted run — the new
    last commit participates in the ordered-chain replay contract."""
    from nfl_data_pipeline_spark.streaming.curation import (
        read_frequent_ngrams,
    )

    PHI_INV = 300
    b = docs.filter(F.col("doc_id") % 3 == 0)

    ref = CurationState(
        str(tmp_path / "ref"), track_frequent=True, frequent_capacity=PHI_INV
    )
    process_curation_batch(spark, b, ref, "b0")
    want_hh = sorted(
        map(tuple, read_frequent_ngrams(spark, ref, PHI_INV).collect())
    )
    want_counts = sorted(map(tuple, read_curation_counts(spark, ref).collect()))

    crash = CurationState(
        str(tmp_path / "crash"), track_frequent=True, frequent_capacity=PHI_INV
    )
    import nfl_data_pipeline_spark.streaming.frequent as freq

    real_update = freq.update_frequent_state

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before frequent fold")

    freq.update_frequent_state = boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            process_curation_batch(spark, b, crash, "b0")
    finally:
        freq.update_frequent_state = real_update
    # everything upstream committed; the frequent table did not
    assert crash.near_counts.is_applied("b0")
    assert crash.frequent.latest_version() is None

    process_curation_batch(spark, b, crash, "b0")  # replay
    got_hh = sorted(
        map(tuple, read_frequent_ngrams(spark, crash, PHI_INV).collect())
    )
    got_counts = sorted(map(tuple, read_curation_counts(spark, crash).collect()))
    assert got_hh == want_hh
    assert got_counts == want_counts
    # and a SECOND replay is a pure no-op on the frequent state
    v = crash.frequent.latest_version()
    process_curation_batch(spark, b, crash, "b0")
    assert crash.frequent.latest_version() == v


def test_repetition_stage_gates_kept_docs(spark, tmp_path):
    """Code-review r7: with use_repetition=True the repetition stage
    must gate the KEPT corpus, not just the counts — funnel_counts_agg
    threads pass_rep into n_final, so a kept repetitive doc would make
    the curated output and the counts table permanently disagree. Both
    the batch path (gate frame reuse) and the whole-batch-replay path
    (funnel_survivors recompute) must drop it."""
    from nfl_data_pipeline_spark.streaming.funnel import (
        read_funnel_counts,
    )

    # planted doc 99 must fall ONLY at the repetition stage: common-
    # vocab words (passes the LM ppl gate), 16/24 distinct (passes
    # quality), but top-bigram share 5*2/24 = 0.42 > _REP_BIGRAM_CUT
    vocab = [f"w{i}" for i in range(16)]
    normal = " ".join(vocab + vocab[:14])
    # tail reversed so the planted doc's character shingles do not
    # overlap the normal docs' (near-dup gate must not be what drops
    # it); the words themselves stay common, so the LM gate passes
    planted = " ".join(["w0 w1"] * 5 + vocab[:1:-1])
    rows = [(i, "srcA", "en", normal) for i in range(3)]
    rows.append((99, "srcA", "en", planted))
    rows.append((100, "srcB", "en", normal))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )

    off = CurationState(str(tmp_path / "off"))
    kept_off = {
        r["doc_id"]
        for r in process_curation_batch(spark, docs, off, "b0").collect()
    }
    on = CurationState(str(tmp_path / "on"), use_repetition=True)
    kept_on = {
        r["doc_id"]
        for r in process_curation_batch(spark, docs, on, "b0").collect()
    }
    # the planted repetitive doc (99) passes every rep-off gate and
    # falls ONLY at the repetition stage
    assert 99 in kept_off
    assert kept_on == kept_off - {99}
    # counts and corpus agree: n_final sums to the funnel-survivor
    # count that fed near-dup (kept_on is post-neardup, a subset)
    counts = read_funnel_counts(spark, on.funnel)
    n_final = sum(r["n_final"] for r in counts.collect())
    assert n_final == len(kept_on)  # no near-dup drops in this corpus

    # whole-batch replay recomputes the same survivors (pure read)
    kept_replay = {
        r["doc_id"]
        for r in process_curation_batch(spark, docs, on, "b0").collect()
    }
    assert kept_replay == kept_on


def test_counts_report_reads_in_two_jobs(spark, tmp_path, docs):
    """The counts report has one row per source: a repeat read takes
    at most 2 Spark jobs (no range-partition sampling or exchange for
    the sort) and comes back ordered by source."""
    state = CurationState(str(tmp_path / "s"))
    process_curation_batch(spark, docs, state, "b0")
    # a polling reader has read the tables before: the first read of
    # each table infers its schema (one job per table, cached after)
    read_curation_counts(spark, state).collect()
    sc = spark.sparkContext
    sc.setJobGroup("curation-counts", "counts report")
    try:
        rows = read_curation_counts(spark, state).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("curation-counts")) <= 2
    assert list(rows[0].asDict()) == [
        "source", "n_input", "n_url", "n_lang", "n_quality", "n_ppl",
        "n_final", "n_neardup",
    ]
    sources = [r["source"] for r in rows]
    assert len(sources) > 1 and sources == sorted(set(sources))
