"""Right-to-be-forgotten (jobs/forget.py): partition-scoped keyed
DELETE on tx tables, and registry purges that make the dedup gates
treat re-arrivals of forgotten content as brand new."""

from __future__ import annotations

from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.jobs.forget import delete_by_key_tx, forget_docs
from nfl_data_pipeline_spark.jobs.txlog import TxTable
from tests.conftest import SF_SMOKE


def test_delete_by_key_tx_partition_scoped(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    df = spark.range(1_000).select(
        (F.col("id") % 8).alias("bucket"),
        F.col("id").alias("doc_id"),
        (F.col("id") * 3).alias("v"),
    )
    t.commit(t.stage_files(df, "bucket"), batch_id="b0")
    v0 = t.latest_version()

    # delete ids living only in buckets 1 and 2
    ids = [1, 9, 2, 10]  # 1,9 -> bucket 1; 2,10 -> bucket 2
    res = delete_by_key_tx(spark, t, "doc_id", ids, "bucket", batch_id="d0")
    assert res == {
        "touched_partitions": 2,
        "deleted_rows": 4,
        "replayed": False,
    }
    got = t.read(spark)
    assert got.filter(F.col("doc_id").isin(ids)).count() == 0
    assert got.count() == 996
    # untouched partitions keep their files byte-for-byte
    after = {f["path"] for f in t.live_files()}
    untouched_before = {
        f["path"]
        for f in t.live_files(version=v0)
        if f["partition"] not in ("1", "2")
    }
    assert untouched_before <= after
    # replay is a no-op
    v = t.latest_version()
    res2 = delete_by_key_tx(spark, t, "doc_id", ids, "bucket", batch_id="d0")
    assert res2["replayed"] and t.latest_version() == v
    # deleting nothing touches nothing
    res3 = delete_by_key_tx(spark, t, "doc_id", [777_777], "bucket")
    assert res3["touched_partitions"] == 0
    assert t.latest_version() == v


def test_forget_neardup_winner_reopens_registration(spark, tmp_path):
    """After forgetting a registered winner, an exact/near copy of it
    must be KEPT (registers fresh) instead of being dropped against a
    ghost doc."""
    from nfl_data_pipeline_spark.streaming.neardup import (
        NearDupState,
        process_neardup_batch,
    )

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 200)
    state = NearDupState(str(tmp_path / "s"))
    v1 = {
        r["doc_id"]: r["keep"]
        for r in process_neardup_batch(spark, docs, state, "b0").collect()
    }
    winner = min(d for d, k in v1.items() if k == 1)

    # control: a clone of the winner is dropped against it
    clone = docs.filter(F.col("doc_id") == winner).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    vc = process_neardup_batch(spark, clone, state, "b1").collect()[0]
    assert vc["keep"] == 0 and vc["dup_of"] == winner

    # forget the winner AND the clone's ghost entry is impossible —
    # the clone never registered; purge the winner only
    res = forget_docs(spark, state, [winner], batch_id="f0")
    assert res["signatures"]["deleted_rows"] > 0
    assert res["sids"]["deleted_rows"] == 1
    assert (
        state.sigs.read(spark)
        .filter(F.col("doc_id") == winner)
        .count()
        == 0
    )

    # the same content re-arrives under a new id: now KEPT + registers
    re_arrival = docs.filter(F.col("doc_id") == winner).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    vr = process_neardup_batch(spark, re_arrival, state, "b2").collect()[0]
    assert vr["keep"] == 1, "re-arrival of forgotten content was dropped"
    assert (
        state.sigs.read(spark)
        .filter(F.col("doc_id") == winner + 2_000_000)
        .count()
        > 0
    )
    # and the registry stayed probe-compatible (config stamp intact):
    # a further batch runs without raising
    process_neardup_batch(
        spark, docs.filter(F.col("doc_id") >= 190), state, "b3"
    )


def test_forget_image_winner_reopens_registration(spark, tmp_path):
    from nfl_data_pipeline_spark.streaming.mediadedup import (
        ImageDedupState,
        process_image_batch,
    )
    from tests.test_streaming_mediadedup import _image_media, _image_rows

    state = ImageDedupState(str(tmp_path / "img"))
    rows = _image_rows(4, plant_pairs=False)
    v1 = {
        r["doc_id"]: r["keep"]
        for r in process_image_batch(
            spark, _image_media(spark, rows), state, "b0"
        ).collect()
    }
    winner = min(d for d, k in v1.items() if k == 1)
    payload = dict(rows)[winner]

    clone = _image_media(spark, [(winner + 1_000_000, payload)])
    vc = process_image_batch(spark, clone, state, "b1").collect()[0]
    assert vc["keep"] == 0 and vc["dup_of"] == winner

    res = forget_docs(spark, state, [winner], batch_id="f0")
    assert res["chunks"]["deleted_rows"] == 11  # max_hamming+1 rows

    re_arrival = _image_media(spark, [(winner + 2_000_000, payload)])
    vr = process_image_batch(spark, re_arrival, state, "b2").collect()[0]
    assert vr["keep"] == 1, "re-arrival of forgotten image was dropped"


def test_forget_funnel_fingerprint(spark, tmp_path):
    """Purging a doc from the funnel's exact-fingerprint registry
    lets the same fingerprint register fresh on re-arrival."""
    from nfl_data_pipeline_spark.streaming.funnel import (
        FunnelState,
        process_funnel_batch,
    )

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 100)
    state = FunnelState(str(tmp_path / "f"))
    flagged = process_funnel_batch(spark, docs, state, "b0")
    kept = [
        r["doc_id"]
        for r in flagged.filter(F.col("pass_dedup") == 1)
        .select("doc_id")
        .collect()
    ]
    target = min(kept)

    # control: exact clone dies at the dedup gate against the registry
    clone = docs.filter(F.col("doc_id") == target).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    fc = process_funnel_batch(spark, clone, state, "b1")
    row = fc.filter(F.col("doc_id") == target + 1_000_000).collect()[0]
    assert row["pass_dedup"] == 0

    res = forget_docs(spark, state, [target], batch_id="f0")
    assert res["fingerprints"]["deleted_rows"] == 1

    re_arrival = docs.filter(F.col("doc_id") == target).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    fr = process_funnel_batch(spark, re_arrival, state, "b2")
    row = fr.filter(F.col("doc_id") == target + 2_000_000).collect()[0]
    assert row["pass_dedup"] == 1, (
        "re-arrival of forgotten fingerprint was dropped"
    )


def test_forget_docs_curation_composed(spark, tmp_path):
    """The composed purge sweeps the funnel fingerprint registry AND
    both near-dup registries; a re-arrival of the forgotten doc then
    passes the whole chain as brand new."""
    from nfl_data_pipeline_spark.jobs.forget import forget_docs_curation
    from nfl_data_pipeline_spark.streaming.curation import (
        CurationState,
        process_curation_batch,
    )

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 150)
    state = CurationState(str(tmp_path / "c"))
    kept = process_curation_batch(spark, docs, state, "b0")
    target = min(r["doc_id"] for r in kept.select("doc_id").collect())

    # control: an exact clone dies somewhere in the chain
    clone = docs.filter(F.col("doc_id") == target).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    k1 = process_curation_batch(spark, clone, state, "b1")
    assert k1.count() == 0

    res = forget_docs_curation(spark, state, [target], batch_id="f0")
    assert res["fingerprints"]["deleted_rows"] == 1
    assert res["signatures"]["deleted_rows"] > 0

    re_arrival = docs.filter(F.col("doc_id") == target).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    k2 = process_curation_batch(spark, re_arrival, state, "b2")
    assert k2.count() == 1, "re-arrival of forgotten doc was dropped"


def test_forget_embdedup_winner_reopens_registration(spark, tmp_path):
    from nfl_data_pipeline_spark.streaming.embdedup import (
        EmbDedupState,
        process_embdedup_batch,
    )

    import random

    rng = random.Random(9)
    DIM = 16
    vecs = spark.createDataFrame(
        [
            (i, [rng.gauss(0, 1) for _ in range(DIM)])
            for i in range(20)
        ],
        "vec_id long, embedding array<double>",
    )
    state = EmbDedupState(str(tmp_path / "e"))
    process_embdedup_batch(spark, vecs, state, "b0", 0.95, dim=DIM)
    winner = 3

    clone = vecs.filter(F.col("vec_id") == winner).select(
        (F.col("vec_id") + 1_000).alias("vec_id"), "embedding"
    )
    vc = process_embdedup_batch(
        spark, clone, state, "b1", 0.95, dim=DIM
    ).collect()[0]
    assert vc["keep"] == 0 and vc["dup_of"] == winner

    res = forget_docs(spark, state, [winner], batch_id="f0")
    assert res["bands"]["deleted_rows"] > 0

    re_arrival = vecs.filter(F.col("vec_id") == winner).select(
        (F.col("vec_id") + 2_000).alias("vec_id"), "embedding"
    )
    vr = process_embdedup_batch(
        spark, re_arrival, state, "b2", 0.95, dim=DIM
    ).collect()[0]
    assert vr["keep"] == 1, "re-arrival of forgotten vector was dropped"


def test_forget_audio_winner_reopens_registration(spark, tmp_path):
    from nfl_data_pipeline_spark.streaming.mediadedup import (
        AudioDedupState,
        process_audio_batch,
    )
    from tests.test_streaming_mediadedup import _audio_media, _audio_rows

    state = AudioDedupState(str(tmp_path / "au"))
    rows = _audio_rows(3, plant_pairs=False)
    v1 = {
        r["doc_id"]: r["keep"]
        for r in process_audio_batch(
            spark, _audio_media(spark, rows), state, "b0"
        ).collect()
    }
    winner = min(d for d, k in v1.items() if k == 1)
    payload = dict(rows)[winner]

    clone = _audio_media(spark, [(winner + 1_000, payload)])
    vc = process_audio_batch(spark, clone, state, "b1").collect()[0]
    assert vc["keep"] == 0 and vc["dup_of"] == winner

    res = forget_docs(spark, state, [winner], batch_id="f0")
    assert res["landmarks"]["deleted_rows"] > 0

    re_arrival = _audio_media(spark, [(winner + 2_000, payload)])
    vr = process_audio_batch(spark, re_arrival, state, "b2").collect()[0]
    assert vr["keep"] == 1, "re-arrival of forgotten clip was dropped"


def test_forget_queue_batched_drain(spark, tmp_path):
    """Tombstones accumulate across enqueues and purge in ONE drain;
    the drain is crash-idempotent (re-drain is a no-op), enqueue
    replay is guarded, and a re-arrival of a drained doc passes the
    chain as new."""
    from nfl_data_pipeline_spark.jobs.forget import ForgetQueue
    from nfl_data_pipeline_spark.streaming.curation import (
        CurationState,
        process_curation_batch,
    )

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 120)
    state = CurationState(str(tmp_path / "c"))
    kept = process_curation_batch(spark, docs, state, "b0")
    kept_ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    t1, t2 = kept_ids[0], kept_ids[1]

    q = ForgetQueue(str(tmp_path / "q"))
    assert q.enqueue(spark, [t1], batch_id="e0") == 1
    assert q.enqueue(spark, [t1], batch_id="e0") == 0  # replay no-op
    assert q.enqueue(spark, [t2], batch_id="e1") == 1
    assert q.pending(spark) == 2

    res = q.drain_into_curation(spark, state)
    assert res["drained"] == 2 and res["queue_cleared"]
    assert res["fingerprints"]["deleted_rows"] == 2
    assert q.pending(spark) == 0
    # crash-replay shape: drain again → empty no-op
    assert q.drain_into_curation(spark, state) == {}

    # both drained docs re-arrive as new and are kept
    re_arrival = docs.filter(F.col("doc_id").isin([t1, t2])).withColumn(
        "doc_id", F.col("doc_id") + 3_000_000
    )
    k2 = process_curation_batch(spark, re_arrival, state, "b1")
    assert k2.count() == 2


def test_forget_queue_drains_on_maintenance(spark, tmp_path):
    """maintain_curation_state(forget_queue=...) drains queued
    tombstones BEFORE compacting, so purges ride the maintenance
    cadence."""
    from nfl_data_pipeline_spark.jobs.forget import ForgetQueue
    from nfl_data_pipeline_spark.streaming.curation import (
        CurationState,
        maintain_curation_state,
        process_curation_batch,
    )

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 120)
    state = CurationState(str(tmp_path / "c"))
    kept = process_curation_batch(spark, docs, state, "b0")
    target = min(r["doc_id"] for r in kept.select("doc_id").collect())

    q = ForgetQueue(str(tmp_path / "q"))
    q.enqueue(spark, [target], batch_id="e0")
    stats = maintain_curation_state(
        spark, state, min_files=1, forget_queue=q
    )
    assert stats["forget"]["drained"] == 1
    assert stats["forget"]["queue_cleared"]
    assert q.pending(spark) == 0
    # the purge landed
    assert (
        state.funnel.fps.read(spark)
        .filter(F.col("doc_id") == target)
        .count()
        == 0
    )


def test_forget_queue_drain_vacuums_tombstone_files(spark, tmp_path):
    """ADVICE r5/r6: the drain's truncation is manifest-only — the
    vacuum must follow so drained tombstone files stop accumulating
    on disk."""
    import glob
    import os

    from nfl_data_pipeline_spark.jobs.forget import ForgetQueue
    from nfl_data_pipeline_spark.streaming.curation import (
        CurationState,
        process_curation_batch,
    )

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 80)
    state = CurationState(str(tmp_path / "c"))
    kept = process_curation_batch(spark, docs, state, "b0")
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())[:3]

    qroot = str(tmp_path / "q")
    q = ForgetQueue(qroot)
    for i, t in enumerate(ids):
        q.enqueue(spark, [t], batch_id=f"e{i}")
    n_files = len(glob.glob(os.path.join(qroot, "**/*.parquet"),
                            recursive=True))
    assert n_files >= len(ids)

    res = q.drain_into_curation(spark, state)
    assert res["queue_cleared"]
    assert res["queue_files_deleted"] >= len(ids)
    left = glob.glob(os.path.join(qroot, "**/*.parquet"), recursive=True)
    assert left == [], f"tombstone files not vacuumed: {left}"
    # queue still functional after the vacuum
    assert q.enqueue(spark, [999_999], batch_id="e9") == 1
    assert q.pending(spark) == 1


def test_cluster_table_for_deletes_touches_only_spanned_partitions(
    spark, tmp_path
):
    """After cluster_table_for_deletes, a delete's scan AND rewrite
    are bounded by the partitions the id set SPANS under the recorded
    range formula — a contiguous purge span touches ~1 partition
    where hash bucketing touched most of them."""
    from nfl_data_pipeline_spark.jobs.forget import (
        cluster_table_for_deletes,
        forget_range_col,
    )

    t = TxTable(str(tmp_path / "t"))
    df = spark.range(20_000).select(
        F.pmod(F.xxhash64("id"), F.lit(16)).alias("bucket"),
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    t.commit(t.stage_files(df, "bucket"), batch_id="b0")
    info = cluster_table_for_deletes(spark, t, "doc_id", n_ranges=32)
    assert info["partitions"] > 1

    # contiguous purge span (one user/source): 150 sequential ids
    ids = list(range(7_000, 7_150))
    spanned = {(v - info["lo"]) // info["width"] for v in ids}
    before = {f["path"] for f in t.live_files()}
    res = delete_by_key_tx(spark, t, "doc_id", ids, "_fr", batch_id="d0")
    assert res["deleted_rows"] == len(ids)
    assert res["touched_partitions"] <= len(spanned)
    # every file outside the spanned partitions survived byte-for-byte
    untouched_before = {
        f["path"]
        for f in t.live_files(version=t.latest_version() - 1)
        if int(f["partition"]) not in spanned
    }
    after = {f["path"] for f in t.live_files()}
    assert untouched_before <= after
    got = t.read(spark)
    assert got.count() == 20_000 - len(ids)
    assert got.filter(F.col("doc_id").between(7_000, 7_149)).count() == 0

    # scattered ids outside every live range: zero-touch early exit
    res2 = delete_by_key_tx(
        spark, t, "doc_id", [10_000_000], "_fr", batch_id="d1"
    )
    assert res2["touched_partitions"] == 0

    # append path: forget_range_col reproduces the recorded formula
    expr = forget_range_col(t, "doc_id")
    assert expr is not None
    new_rows = spark.range(20_000, 20_010).select(
        F.lit(3).cast("long").alias("bucket"),
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    ).withColumn("_fr", expr)
    t.commit(t.stage_files(new_rows, "_fr", stats_cols=["doc_id"]),
             batch_id="b1")
    res3 = delete_by_key_tx(
        spark, t, "doc_id", [20_005], "_fr", batch_id="d2"
    )
    assert res3["deleted_rows"] == 1
    assert forget_range_col(t, "other_col") is None


def test_range_layout_exact_for_full_span_hash_ids(spark, tmp_path):
    """Code-review r7: the range-partition formula must match
    Python's exact ``(id - lo) // width`` for ANY int64 id. The
    naive ``F.floor((id - lo) / width)`` fails hash-derived ids two
    ways — ``id - lo`` wraps past the int64 span when lo ≈ -2^63,
    and long/long ``/`` routes through double, losing bits above
    2^53 — so the Python fast path in delete_by_key_tx probed a
    DIFFERENT partition than the one the row was written to and the
    purge silently deleted nothing."""
    from nfl_data_pipeline_spark.jobs.forget import (
        cluster_table_for_deletes,
        forget_range_col,
    )

    MIN, MAX = -(2**63), 2**63 - 1
    # xxhash64-style ids spanning the whole int64 range, plus values
    # adjacent to the extremes (worst case for wrap + rounding)
    base = load(spark, SF_SMOKE, "documents").limit(64).select(
        F.xxhash64("text").alias("doc_id"),
        F.lit("x").alias("bucket"),
        F.col("text").alias("payload"),
    )
    edges = spark.createDataFrame(
        [(MIN, "x", "p"), (MIN + 1, "x", "p"), (MAX - 1, "x", "p"),
         (MAX, "x", "p")],
        "doc_id long, bucket string, payload string",
    )
    df = base.unionByName(edges).dropDuplicates(["doc_id"])
    t = TxTable(str(tmp_path / "t"))
    t.commit(t.stage_files(df, "bucket"), batch_id="b0")
    n0 = t.read(spark).count()

    info = cluster_table_for_deletes(spark, t, "doc_id", n_ranges=8)
    lo, width = info["lo"], info["width"]
    # layout partitions agree with Python's exact arithmetic row-wise
    got = {
        (r["doc_id"], int(r["_fr"]))
        for r in t.read(spark).select("doc_id", "_fr").collect()
    }
    assert got == {(i, (i - lo) // width) for i, _ in got}

    # list fast path (exact Python probe) actually deletes extremes
    res = delete_by_key_tx(
        spark, t, "doc_id", [MIN, MAX, MIN + 1], "_fr", batch_id="d0"
    )
    assert res["deleted_rows"] == 3
    assert t.read(spark).count() == n0 - 3
    assert (
        t.read(spark).filter(F.col("doc_id").isin([MIN, MAX, MIN + 1]))
        .count() == 0
    )

    # append path: forget_range_col lands new extremes where a later
    # delete's probe finds them
    more = spark.createDataFrame(
        [(MIN + 2, "x", "p"), (MAX - 2, "x", "p")],
        "doc_id long, bucket string, payload string",
    ).withColumn("_fr", forget_range_col(t, "doc_id"))
    t.commit(t.stage_files(more, "_fr", stats_cols=["doc_id"]),
             batch_id="b1")
    res2 = delete_by_key_tx(
        spark, t, "doc_id", [MIN + 2, MAX - 2], "_fr", batch_id="d1"
    )
    assert res2["deleted_rows"] == 2


def test_vacuum_grace_protects_staged_uncommitted_files(spark, tmp_path):
    """Code-review r7: vacuum treats a STAGED-but-uncommitted file as
    an orphan; with a concurrent writer that unlinks an in-flight
    commit's data. grace_s must protect never-referenced recent files
    while files referenced by PRUNED manifests (committed history)
    still delete immediately."""
    import glob
    import os

    t = TxTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a")], "id long, part string")
    t.commit(t.stage_files(df1, "part"), batch_id="b0")
    # supersede v0's file so it becomes prunable history
    t.commit(
        t.stage_files(
            spark.createDataFrame([(2, "a")], "id long, part string"),
            "part",
        ),
        remove_partitions={"a"},
        batch_id="b1",
    )
    old_files = {f["path"] for f in t.live_files(version=0)}
    # an in-flight writer: staged, not yet committed
    staged = t.stage_files(
        spark.createDataFrame([(3, "b")], "id long, part string"), "part"
    )
    staged_paths = {a["path"] for a in staged}

    deleted = t.vacuum(retain_versions=1, grace_s=600)
    on_disk = set(
        glob.glob(os.path.join(str(tmp_path / "t"), "**/*.parquet"),
                  recursive=True)
    )
    # pruned-manifest history deleted despite the grace window…
    assert not (old_files & on_disk) and deleted >= len(old_files)
    # …but the in-flight staged file survived and its commit lands
    assert staged_paths <= on_disk
    t.commit(staged, batch_id="b2")
    got = {r["id"] for r in t.read(spark).collect()}
    assert got == {2, 3}
    # single-writer mode (grace 0) still sweeps true orphans
    orphan = t.stage_files(
        spark.createDataFrame([(9, "c")], "id long, part string"), "part"
    )
    assert t.vacuum(retain_versions=1) >= 1
    assert not any(os.path.exists(a["path"]) for a in orphan)


def test_drain_vacuum_spares_inflight_enqueue(spark, tmp_path):
    """The ForgetQueue docstring promises a concurrent enqueue during
    a drain survives; that must hold even when the enqueue has staged
    its tombstone parquet but not yet committed when the drain's
    vacuum runs."""
    from nfl_data_pipeline_spark.jobs.forget import ForgetQueue
    from nfl_data_pipeline_spark.streaming.curation import (
        CurationState,
        process_curation_batch,
    )

    docs = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 60)
    state = CurationState(str(tmp_path / "c"))
    kept = process_curation_batch(spark, docs, state, "b0")
    victim = min(r["doc_id"] for r in kept.select("doc_id").collect())

    q = ForgetQueue(str(tmp_path / "q"))
    q.enqueue(spark, [victim], batch_id="e0")
    # in-flight concurrent enqueue: staged, commit races the drain
    inflight = q.table.stage_files(
        spark.createDataFrame([(123_456, "q")], "doc_id long, _part string"),
        "_part",
    )
    res = q.drain_into_curation(spark, state)
    assert res["queue_cleared"] and res["drained"] == 1
    # the staged tombstone survived the vacuum; its commit lands
    import os

    assert all(os.path.exists(a["path"]) for a in inflight)
    q.table.commit(inflight, batch_id="e1")
    assert q.pending(spark) == 1
    assert {r["doc_id"] for r in q.table.read(spark).collect()} == {123_456}


def test_vacuum_grace_is_commit_dir_scoped(spark, tmp_path):
    """Code-review r7: a long multi-partition staging's EARLIEST file
    can age past the grace window while the write is still in flight
    — per-file grace would unlink it. Any recent activity in a commit
    dir must protect the whole staging; a fully-stale staging (true
    crashed orphan) still sweeps."""
    import os

    t = TxTable(str(tmp_path / "t"))
    t.commit(
        t.stage_files(
            spark.createDataFrame([(1, "a")], "id long, part string"),
            "part",
        ),
        batch_id="b0",
    )
    staged = t.stage_files(
        spark.createDataFrame(
            [(2, "a"), (3, "b")], "id long, part string"
        ),
        "part",
    )
    paths = sorted(a["path"] for a in staged)
    assert len(paths) >= 2
    # first staged file aged past the window, a sibling still fresh
    old = 1_000_000.0
    os.utime(paths[0], (old, old))
    t.vacuum(retain_versions=1, grace_s=600)
    assert all(os.path.exists(p) for p in paths), "in-flight staging hit"
    t.commit(staged, batch_id="b1")
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2, 3}

    # a staging with NO recent activity is a crashed orphan: sweep it
    orphan = t.stage_files(
        spark.createDataFrame([(9, "c")], "id long, part string"), "part"
    )
    for a in orphan:
        os.utime(a["path"], (old, old))
    assert t.vacuum(retain_versions=1, grace_s=600) >= 1
    assert not any(os.path.exists(a["path"]) for a in orphan)


def test_commit_fails_loudly_when_staging_was_swept(spark, tmp_path):
    """If a vacuum's grace window elapses mid-write and sweeps a
    staged file, the writer's commit must raise StagedFilesMissing
    instead of publishing a manifest to missing data (silent loss
    surfaced only at read time)."""
    import os

    import pytest

    from nfl_data_pipeline_spark.jobs.txlog import StagedFilesMissing

    t = TxTable(str(tmp_path / "t"))
    t.commit(
        t.stage_files(
            spark.createDataFrame([(1, "a")], "id long, part string"),
            "part",
        ),
        batch_id="b0",
    )
    staged = t.stage_files(
        spark.createDataFrame([(2, "b")], "id long, part string"), "part"
    )
    t.vacuum(retain_versions=1)  # grace 0: sweeps the staging
    assert not any(os.path.exists(a["path"]) for a in staged)
    v = t.latest_version()
    with pytest.raises(StagedFilesMissing):
        t.commit(staged, batch_id="b1")
    assert t.latest_version() == v  # nothing published
    assert {r["id"] for r in t.read(spark).collect()} == {1}
    # re-stage + retry is the documented recovery
    t.commit(
        t.stage_files(
            spark.createDataFrame([(2, "b")], "id long, part string"),
            "part",
        ),
        batch_id="b1",
    )
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2}
