"""Incremental MinHash-LSH near-dup gate (streaming/neardup.py):
single-batch equivalence with the one-shot estimate-and-cluster
computation, cross-batch first-arrival-wins on planted near-dups,
replay idempotence, registry growth bounded by kept docs, and (slow)
the gate's recall step against true shingle Jaccard."""

from __future__ import annotations

import os
import random
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.operators.dedup import (
    _materialized_sids,
    connected_components,
    with_minhash_signature,
)
from nfl_data_pipeline_spark.streaming.neardup import (
    _SIG,
    GATE_BANDS,
    GATE_PERMS,
    NearDupState,
    _band_rows,
    process_neardup_batch,
)
from tests.conftest import SF_SMOKE

THR = 0.5


def _verdict_map(df):
    return {r["doc_id"]: (r["keep"], r["dup_of"]) for r in df.collect()}


def _oneshot_winners(spark, docs):
    """Batch twin: same banding, same exact verify, components over
    the whole corpus at once; winner = min doc_id per component."""
    sids = _materialized_sids(docs, "text", 3)
    sig = with_minhash_signature(sids, GATE_PERMS).select("doc_id", *_SIG)
    bands = _band_rows(sig).persist()
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_id", "h_lo", "h_hi"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    j = F.size(F.array_intersect("a_sids", "b_sids")) / F.size(
        F.array_union("a_sids", "b_sids")
    )
    pairs = (
        cands.join(
            sids.select(F.col("doc_id").alias("doc_a"), F.col("sids").alias("a_sids")),
            "doc_a",
        )
        .join(
            sids.select(F.col("doc_id").alias("doc_b"), F.col("sids").alias("b_sids")),
            "doc_b",
        )
        .filter(j >= THR)
        .select("doc_a", "doc_b")
    )
    comps = connected_components(pairs)
    winners = comps.groupBy("component").agg(F.min("node").alias("w"))
    dupmap = {
        r["node"]: r["w"]
        for r in comps.join(winners, "component").collect()
    }
    all_ids = [r["doc_id"] for r in sig.select("doc_id").collect()]
    return {d: dupmap.get(d, d) for d in all_ids}


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF_SMOKE, "documents")


def test_single_batch_equals_oneshot(spark, tmp_path, docs):
    state = NearDupState(str(tmp_path / "s"))
    got = _verdict_map(process_neardup_batch(spark, docs, state, "b0", THR))
    want = _oneshot_winners(spark, docs)
    assert {d: v[1] for d, v in got.items()} == want
    kept = {d for d, v in got.items() if v[0] == 1}
    assert kept == {d for d, w in want.items() if d == w}
    # registry holds exactly the winners (GATE_BANDS band rows each,
    # one sids row each)
    reg = state.sigs.read(spark)
    assert reg.select("doc_id").distinct().count() == len(kept)
    assert reg.count() == GATE_BANDS * len(kept)
    assert state.sids.read(spark).count() == len(kept)


def test_cross_batch_first_arrival_wins(spark, tmp_path, docs):
    """A doc arriving in batch 2 that near-duplicates a batch-1 doc
    is dropped with dup_of pointing at the EARLIER doc."""
    state = NearDupState(str(tmp_path / "s"))
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    process_neardup_batch(spark, b1, state, "b1", THR)
    # batch 2 = exact copies of 5 batch-1 docs under new ids
    clones = (
        b1.orderBy("doc_id")
        .limit(5)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    got = _verdict_map(process_neardup_batch(spark, clones, state, "b2", THR))
    for new_id, (keep, dup_of) in got.items():
        assert keep == 0, f"clone {new_id} was not deduplicated"
        assert dup_of == new_id - 1_000_000
    # nothing from batch 2 entered the registry
    reg_ids = {
        r["doc_id"] for r in state.sigs.read(spark).select("doc_id").collect()
    }
    assert not any(i >= 1_000_000 for i in reg_ids)


def test_replay_reproduces_verdicts(spark, tmp_path, docs):
    state = NearDupState(str(tmp_path / "s"))
    b = docs.filter(F.col("doc_id") % 3 == 0)
    first = _verdict_map(process_neardup_batch(spark, b, state, "b0", THR))
    v = state.sigs.latest_version()
    replay = _verdict_map(process_neardup_batch(spark, b, state, "b0", THR))
    assert replay == first
    assert state.sigs.latest_version() == v  # no second commit


def test_incompatible_registry_config_rejected(spark, tmp_path, docs):
    """ADVICE r4: a registry written under another gate configuration
    (different verify mode here; perms/banding by proxy) must raise,
    not silently pass previously-registered near-dups as keeps."""
    state = NearDupState(str(tmp_path / "s"))
    b = docs.filter(F.col("doc_id") % 3 == 0)
    process_neardup_batch(spark, b, state, "b0", THR, exact_verify=True)
    with pytest.raises(ValueError, match="gate config"):
        process_neardup_batch(
            spark, b, state, "b1", THR, exact_verify=False
        )
    # a registry with rows but NO stamp (written by an older gate) is
    # rejected too — its probe compatibility cannot be verified
    m = state.sigs.manifest()
    m["meta"].pop("gate_config")
    import json as _json
    import os as _os

    path = _os.path.join(
        state.sigs.log_dir, f"{state.sigs.latest_version():08d}.json"
    )
    with open(path, "w") as f:
        _json.dump(m, f)
    with pytest.raises(ValueError, match="stamping"):
        process_neardup_batch(spark, b, state, "b2", THR)


def test_registry_appends_take_driver_path_when_small(spark, tmp_path, docs):
    """r11 VERDICT next #2: the sids/signatures registry appends go
    through stage_files_auto — a metadata-sized batch stages
    driver-side instead of paying the ~1 s/table distributed-write
    floor twice. Asserted via the shared gate telemetry; verdict
    correctness under this path is covered by the equality tests
    above (same code path)."""
    from nfl_data_pipeline_spark.operators.hints import drain_gate_events

    state = NearDupState(str(tmp_path / "s"))
    drain_gate_events()
    process_neardup_batch(spark, docs, state, "b0", THR)
    evs = {
        e["site"]: e for e in drain_gate_events()
        if e["site"].endswith("-append")
    }
    assert evs["neardup.py:sids-append"]["path"] == "driver"
    assert evs["neardup.py:sigs-append"]["path"] == "driver"


def _clones(df, ids, offset=1_000_000):
    """Exact copies of ``ids`` under new doc ids (``id + offset``)."""
    return df.filter(F.col("doc_id").isin(*ids)).select(
        (F.col("doc_id") + offset).alias("doc_id"), "text"
    )


def _table_rows(spark, table):
    df = table.read(spark)
    cols = sorted(c for c in df.columns if c != "bucket")
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_gate_stays_batch_scoped(spark, tmp_path, docs, monkeypatch):
    """After 3 prior batches the candidate → verdict chain runs at
    most 5 Spark jobs on the calling thread, reads the sids registry
    only from the live files of the candidate buckets, and never
    broadcasts a registry scan."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

    from nfl_data_pipeline_spark.jobs.txlog import TxTable

    state = NearDupState(str(tmp_path / "s"))
    base = docs.select("doc_id", "text")
    prior = {}
    for k in range(3):
        prior.update(_verdict_map(process_neardup_batch(
            spark, base.filter(F.col("doc_id") % 4 == k), state, f"b{k}", THR
        )))
    first = sorted(prior)[:5]
    batch = base.filter(F.col("doc_id") % 4 == 3).unionByName(
        _clones(base, first)
    ).localCheckpoint()
    # the gate's first step builds the batch's shingle cache; build it
    # here so the job count below covers the candidate → verdict chain
    _materialized_sids(batch, "text", 3).count()

    # the registry docs the batch can match, computed independently
    sig = with_minhash_signature(
        _materialized_sids(batch, "text", 3), GATE_PERMS
    ).select("doc_id", *_SIG)
    key = ["band_id", "h_lo", "h_hi"]
    probe = _band_rows(sig).select(*key)
    reg_docs = (
        state.sigs.read(spark).join(probe, key, "left_semi")
        .select("doc_id").distinct()
    )
    want_buckets = {
        r[0] for r in reg_docs.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(16)).cast("long")
        ).collect()
    }
    assert want_buckets and len(want_buckets) < 16
    live = {
        os.path.abspath(f["path"])
        for f in state.sids.live_files(partitions=want_buckets)
    }

    sids_reads, plans = [], []
    read = TxTable.read
    collect = ClassicFrame.collect

    def spy_read(self, spark_, *a, **k):
        df = read(self, spark_, *a, **k)
        if self is state.sids:
            sids_reads.append((k.get("partitions"), df))
        return df

    def spy_collect(self):
        out = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(TxTable, "read", spy_read)
    monkeypatch.setattr(ClassicFrame, "collect", spy_collect)
    sc = spark.sparkContext
    sc.setJobGroup("neardup-batch-scope", "candidate to verdict chain")
    try:
        verdicts = process_neardup_batch(spark, batch, state, "b3", THR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    monkeypatch.undo()

    jobs = sc.statusTracker().getJobIdsForGroup("neardup-batch-scope")
    got = _verdict_map(verdicts)
    assert len(jobs) <= 5, f"{len(jobs)} jobs on the verdict path"
    for i in first:  # a copy loses to its original's winner
        assert got[i + 1_000_000] == (0, prior[i][1])
    # one sids read: exactly the live files of the candidate buckets
    assert len(sids_reads) == 1
    parts, df = sids_reads[0]
    assert set(parts) == want_buckets
    assert {urlparse(p).path for p in df.inputFiles()} == live
    # no BroadcastExchange over a registry scan
    for plan in plans:
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "BroadcastExchange" not in line:
                continue
            depth = len(line) - len(line.lstrip(" :+-"))
            for sub in lines[i + 1:]:
                if len(sub) - len(sub.lstrip(" :+-")) <= depth:
                    break
                assert "FileScan" not in sub or state.sigs.root not in sub
                assert "FileScan" not in sub or state.sids.root not in sub


def test_replay_with_registered_winners_is_identical(spark, tmp_path, docs):
    """Replaying a batch whose winners are already registered (the
    gate's membership then comes from the batch × registry matches of
    their batch partners) reproduces the verdicts and leaves both
    registries unchanged."""
    state = NearDupState(str(tmp_path / "s"))
    base = docs.select("doc_id", "text")
    b0 = base.filter(F.col("doc_id") % 2 == 0)
    odd = [r["doc_id"] for r in base.filter(F.col("doc_id") % 2 == 1)
           .orderBy("doc_id").limit(4).collect()]
    even = [r["doc_id"] for r in b0.orderBy("doc_id").limit(3).collect()]
    # batch 1: new docs, in-batch copies of some of them (their
    # winners register with this batch) and copies of batch-0 docs
    b1 = (
        base.filter(F.col("doc_id") % 2 == 1)
        .unionByName(_clones(base, odd))
        .unionByName(_clones(base, even, offset=2_000_000))
    )
    v0 = _verdict_map(process_neardup_batch(spark, b0, state, "b0", THR))
    first = _verdict_map(process_neardup_batch(spark, b1, state, "b1", THR))
    for i in odd:  # a copy loses to its original's winner
        assert first[i + 1_000_000] == (0, first[i][1])
    for i in even:
        assert first[i + 2_000_000] == (0, v0[i][1])
    kept = [i for i in odd if first[i][0] == 1]
    assert kept
    sigs, sids = _table_rows(spark, state.sigs), _table_rows(spark, state.sids)
    registered = state.sids.read(spark).select("doc_id").collect()
    assert set(kept) <= {r["doc_id"] for r in registered}

    replay = _verdict_map(process_neardup_batch(spark, b1, state, "b1", THR))
    assert replay == first
    assert _table_rows(spark, state.sigs) == sigs
    assert _table_rows(spark, state.sids) == sids


def test_distributed_fallback_matches_driver_path(
    spark, tmp_path, docs, monkeypatch
):
    """Past the driver bound the gate resolves verdicts on the
    distributed path, with registry membership from the same
    candidate frame; the verdicts equal the driver path's."""
    from nfl_data_pipeline_spark.operators import dedup
    from nfl_data_pipeline_spark.streaming import neardup

    base = docs.select("doc_id", "text")
    even = list(range(0, 20, 2))
    b1 = base.filter(F.col("doc_id") % 2 == 1).unionByName(
        _clones(base, even)
    )

    def run(root):
        state = NearDupState(str(root))
        v0 = _verdict_map(process_neardup_batch(
            spark, base.filter(F.col("doc_id") % 2 == 0), state, "b0", THR
        ))
        return v0, _verdict_map(
            process_neardup_batch(spark, b1, state, "b1", THR)
        )

    want = run(tmp_path / "driver")
    with monkeypatch.context() as m:
        m.setattr(neardup, "DRIVER_MAX_PAIRS", 0)
        m.setattr(dedup, "DRIVER_MAX_PAIRS", 0)
        got = run(tmp_path / "fallback")
    assert got == want
    for i in even:  # a copy loses to its original's winner
        assert want[1][i + 1_000_000] == (0, want[0][i][1])


def test_executor_verify_matches_driver_verify(
    spark, tmp_path, docs, monkeypatch
):
    """A candidate sids frame above the broadcast bound is verified on
    the executors (``_exact_edges``) instead of on the driver; the two
    Jaccard forms give the same verdicts and the same registry."""
    from nfl_data_pipeline_spark.streaming import neardup

    base = docs.select("doc_id", "text")
    even = list(range(0, 20, 2))
    b1 = base.filter(F.col("doc_id") % 2 == 1).unionByName(
        _clones(base, even)
    )

    def run(root):
        state = NearDupState(str(root))
        verdicts = [
            _verdict_map(process_neardup_batch(spark, b, state, bid, THR))
            for b, bid in ((base.filter(F.col("doc_id") % 2 == 0), "b0"),
                           (b1, "b1"))
        ]
        return verdicts, _table_rows(spark, state.sids)

    want = run(tmp_path / "driver")
    calls = []
    exact_edges = neardup._exact_edges
    monkeypatch.setattr(
        neardup, "_exact_edges",
        lambda *a: calls.append(1) or exact_edges(*a),
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")  # every frame is above the bound
    try:
        got = run(tmp_path / "executors")
    finally:
        spark.conf.set(key, old)
    assert calls
    assert got == want
    for i in even:  # a copy loses to its original's winner
        assert want[0][1][i + 1_000_000] == (0, want[0][0][i][1])


def test_resent_registered_id_stays_a_member(spark, tmp_path):
    """A registered doc sent again under a later batch id, with no
    batch partner, is a registry member: it meets its own registered
    rows, so it is kept even when it now matches another registered
    doc (reached here by lowering the threshold between batches)."""
    rng = random.Random(7)
    words = [f"w{rng.randrange(10_000_000)}" for _ in range(60)]
    near = words[:48] + [f"m{rng.randrange(10_000_000)}" for _ in range(12)]
    schema = "doc_id long, text string"
    state = NearDupState(str(tmp_path / "s"))
    # 46 of 70 shingles shared: J ≈ 0.66, under 0.95, over 0.3
    b0 = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(near))], schema
    )
    first = _verdict_map(process_neardup_batch(spark, b0, state, "b0", 0.95))
    assert first == {1: (1, 1), 2: (1, 2)}
    resent = spark.createDataFrame([(2, " ".join(near))], schema)
    got = _verdict_map(process_neardup_batch(spark, resent, state, "b1", 0.3))
    assert got == {2: (1, 2)}


def _planted_pairs(rng, n_per_level=150, doc_tokens=60):
    """Cross-batch pairs over a sweep of overlap levels: each batch-2
    doc shares its first k tokens with a batch-1 original and fills
    the rest with fresh vocabulary. Token overlap 0.2–0.9 puts the
    true 3-shingle Jaccard at ≈ 0.1–0.8. Returns (batch1 rows,
    batch2 rows, {new_id: (orig_id, true_j)})."""
    levels = [
        lvl for lvl in (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
        for _ in range(n_per_level)
    ]
    b1, b2, pairs = [], [], {}
    for i, level in enumerate(levels):
        k = int(round(doc_tokens * level))
        base = [f"w{rng.randrange(10_000_000)}" for _ in range(doc_tokens)]
        mut = base[:k] + [
            f"m{rng.randrange(10_000_000)}" for _ in range(doc_tokens - k)
        ]
        a = {tuple(base[j : j + 3]) for j in range(doc_tokens - 2)}
        b = {tuple(mut[j : j + 3]) for j in range(doc_tokens - 2)}
        b1.append((i, " ".join(base)))
        b2.append((1_000_000 + i, " ".join(mut)))
        pairs[1_000_000 + i] = (i, len(a & b) / len(a | b))
    return b1, b2, pairs


@pytest.mark.slow
def test_gate_recall_steps_at_threshold(spark, tmp_path):
    """Recall guard on the gate layout (GATE_PERMS / GATE_BANDS bands
    of 2 + exact verify): against true shingle Jaccard the verdict is
    a step at the threshold. Banding candidate recall is
    1-(1-J²)^16 ≈ 0.99 at J = 0.5 and exact verify gives precision 1,
    so no sub-threshold pair is flagged, at most 2% of the pairs at or
    above it are missed, and none in the J ≈ 0.7 and ≈ 0.8 buckets
    (SCALING.md §"Near-dup gate recall": 0/750 below 0.5, 149/150 at
    J ≈ 0.53, 300/300 at J ≈ 0.66 and 0.81)."""
    b1, b2, pairs = _planted_pairs(random.Random(42))
    schema = "doc_id long, text string"
    state = NearDupState(str(tmp_path / "s"))
    process_neardup_batch(
        spark, spark.createDataFrame(b1, schema), state, "b1", THR
    )
    got = _verdict_map(
        process_neardup_batch(
            spark, spark.createDataFrame(b2, schema), state, "b2", THR
        )
    )
    below = [d for d, (_, j) in pairs.items() if j < THR]
    above = [d for d, (_, j) in pairs.items() if j >= THR]
    high = [d for d, (_, j) in pairs.items() if round(j, 1) >= 0.7]
    assert (len(below), len(above), len(high)) == (750, 450, 300)
    flagged = [d for d in below if got[d][0] == 0]
    assert not flagged, f"{len(flagged)} pairs below J={THR} flagged"
    hits = {d for d in above if got[d] == (0, pairs[d][0])}
    assert len(hits) >= 0.98 * len(above), f"recall {len(hits)}/450"
    assert set(high) <= hits, f"missed at J~0.7-0.8: {set(high) - hits}"
