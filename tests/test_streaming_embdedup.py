"""Incremental embedding near-dup gate (streaming/embdedup.py):
planted near-copies across batches dedup to the earlier vector,
single-batch verdicts match the one-shot banded pair finder, and
replays reproduce verdicts without a second commit."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.dedup import connected_components
from nfl_data_pipeline_spark.operators.similarity import (
    embedding_near_dups_banded,
)
from nfl_data_pipeline_spark.streaming.embdedup import (
    EmbDedupState,
    process_embdedup_batch,
)

DIM = 32
THR = 0.95


@pytest.fixture(scope="module")
def vecs(spark):
    """300 random vectors + 15 planted near-copies (cosine ≥ ~0.99)
    of the first 15, ids offset by 10_000."""
    rng = random.Random(11)
    rows = []
    base = []
    for i in range(300):
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        base.append(v)
        rows.append((i, v))
    for i in range(15):
        rows.append(
            (10_000 + i, [x + rng.gauss(0, 0.02) for x in base[i]])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df.persist().count()
    yield df


def _verdicts(df):
    return {r["vec_id"]: (r["keep"], r["dup_of"]) for r in df.collect()}


def test_single_batch_matches_oneshot_pairs(spark, tmp_path, vecs):
    state = EmbDedupState(str(tmp_path / "s"))
    got = _verdicts(
        process_embdedup_batch(spark, vecs, state, "b0", THR, dim=DIM)
    )
    pairs = embedding_near_dups_banded(vecs, threshold=THR, dim=DIM)
    comps = connected_components(
        pairs.select("vec_a", "vec_b"), "vec_a", "vec_b"
    )
    winners = comps.groupBy("component").agg(F.min("node").alias("w"))
    want_dup = {
        r["node"]: r["w"] for r in comps.join(winners, "component").collect()
    }
    for vid, (keep, dup_of) in got.items():
        assert dup_of == want_dup.get(vid, vid)
        assert keep == (1 if dup_of == vid else 0)
    # all 15 planted copies lost to their originals
    dropped = {v for v, (k, _) in got.items() if k == 0}
    assert {10_000 + i for i in range(15)} <= dropped


def test_cross_batch_first_arrival_wins(spark, tmp_path, vecs):
    state = EmbDedupState(str(tmp_path / "s"))
    originals = vecs.filter(F.col("vec_id") < 10_000)
    copies = vecs.filter(F.col("vec_id") >= 10_000)
    process_embdedup_batch(spark, originals, state, "b1", THR, dim=DIM)
    got = _verdicts(
        process_embdedup_batch(spark, copies, state, "b2", THR, dim=DIM)
    )
    for vid, (keep, dup_of) in got.items():
        assert keep == 0 and dup_of == vid - 10_000
    reg = {
        r["vec_id"]
        for r in state.bands.read(spark).select("vec_id").collect()
    }
    assert not any(v >= 10_000 for v in reg)


def test_replay_reproduces_verdicts(spark, tmp_path, vecs):
    state = EmbDedupState(str(tmp_path / "s"))
    first = _verdicts(
        process_embdedup_batch(spark, vecs, state, "b0", THR, dim=DIM)
    )
    v = state.bands.latest_version()
    replay = _verdicts(
        process_embdedup_batch(spark, vecs, state, "b0", THR, dim=DIM)
    )
    assert replay == first
    assert state.bands.latest_version() == v


def test_arrow_engine_equivalent_verdicts(spark, tmp_path, vecs):
    """engine='arrow' (matmul projections + einsum verify) produces
    the same verdicts as the SQL fold path on the fixture."""
    sql_state = EmbDedupState(str(tmp_path / "sq"))
    ar_state = EmbDedupState(str(tmp_path / "ar"))
    a = _verdicts(
        process_embdedup_batch(
            spark, vecs, sql_state, "b0", THR, dim=DIM, engine="sql"
        )
    )
    b = _verdicts(
        process_embdedup_batch(
            spark, vecs, ar_state, "b0", THR, dim=DIM, engine="arrow"
        )
    )
    assert a == b


def test_incompatible_registry_config_rejected(spark, tmp_path, vecs):
    """A registry written under another gate configuration (different
    threshold / engine / banding) must raise up front, not silently
    probe-mismatch (the r4-ADVICE guard, now on every gate)."""
    import pytest

    state = EmbDedupState(str(tmp_path / "cfg"))
    process_embdedup_batch(spark, vecs, state, "b0", THR, dim=DIM)
    with pytest.raises(ValueError, match="gate config"):
        process_embdedup_batch(spark, vecs, state, "b1", 0.5, dim=DIM)
    with pytest.raises(ValueError, match="gate config"):
        process_embdedup_batch(
            spark, vecs, state, "b2", THR, dim=DIM, engine="arrow"
        )


def test_null_vector_kept_and_never_registered(spark, tmp_path):
    """A NULL vector has no band values: it keeps its verdict row
    (keep = 1, itself as dup_of) but adds no registry rows — rows
    with a NULL vector would join every later probe in the all-zero
    buckets and never score."""
    state = EmbDedupState(str(tmp_path / "s"))
    batch = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = _verdicts(
        process_embdedup_batch(spark, batch, state, "b0", THR, dim=2)
    )
    assert got == {1: (1, 1), 2: (1, 2), 3: (1, 3)}
    reg = state.bands.read(spark)
    assert reg.filter(F.col("vec_id") == 1).count() == 0
    assert reg.filter(F.col("vec").isNull()).count() == 0
    assert {r["vec_id"] for r in reg.select("vec_id").collect()} == {2, 3}
