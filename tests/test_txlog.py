"""Transactional version-pointer table (jobs/txlog.py): atomicity of
the commit protocol, crash-window behavior vs the plain-parquet
ledger path, time travel, optimistic concurrency, vacuum, and the
tx-backed rollup/upsert twins.

The headline assertion is the one ROADMAP #3 exists for: with the
plain path, a crash AFTER the partition overwrite but BEFORE the
ledger marker double-counts on replay (rollup.py documents it); with
the tx path that window does not exist — a crash is either before the
manifest swap (no state change, replay applies cleanly) or after it
(marker already in the manifest, replay is a detected no-op)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.jobs.rollup import (
    aggregate_bucketed,
    read_rollup_tx,
    refresh_rollup_tx,
)
from nfl_data_pipeline_spark.jobs.txlog import CommitConflict, TxTable
from nfl_data_pipeline_spark.jobs.upsert import upsert_by_key_tx
from tests.conftest import SF_SMOKE


@pytest.fixture()
def txroot(tmp_path):
    return str(tmp_path / "txtable")


def _state(spark, table):
    df = read_rollup_tx(spark, table)
    if df is None:
        return {}
    return {
        (r["bucket_ns"], r["event_type"]): (r["n"], r["sum_value"])
        for r in df.collect()
    }


def test_tx_rollup_equals_full_aggregate(spark, txroot):
    """Bootstrap + incremental refresh through the tx log == one-shot
    aggregate over everything (same equivalence the plain path
    guarantees)."""
    ev = load(spark, SF_SMOKE, "events")
    t = TxTable(txroot)

    r1 = refresh_rollup_tx(spark, ev.filter(F.col("event_id") % 2 == 0), t)
    assert r1["version"] == 0 and not r1["replayed"]
    r2 = refresh_rollup_tx(spark, ev.filter(F.col("event_id") % 2 == 1), t)
    assert r2["version"] == 1

    want = {
        (r["bucket_ns"], r["event_type"]): (r["n"], float(r["sum_value"]))
        for r in aggregate_bucketed(ev).collect()
    }
    assert _state(spark, t) == want


def test_tx_replay_is_detected_noop(spark, txroot):
    """Same batch_id twice → second call is a no-op with replayed=True
    and identical state (marker travels IN the manifest)."""
    ev = load(spark, SF_SMOKE, "events").limit(500)
    t = TxTable(txroot)
    refresh_rollup_tx(spark, ev, t, batch_id="b0")
    before = _state(spark, t)
    again = refresh_rollup_tx(spark, ev, t, batch_id="b0")
    assert again["replayed"] is True and again["touched_buckets"] == 0
    assert _state(spark, t) == before


def test_tx_crash_before_commit_is_invisible_and_replay_safe(spark, txroot):
    """Crash between staging data files and the manifest swap: the
    staged files are orphans, readers see the old snapshot, and
    re-running the SAME batch applies exactly once. This is the window
    the plain-parquet path cannot close (its overwrite mutates live
    files before the marker lands)."""
    ev = load(spark, SF_SMOKE, "events")
    t = TxTable(txroot)
    refresh_rollup_tx(spark, ev.filter(F.col("event_id") % 3 == 0), t, batch_id="b0")
    before = _state(spark, t)

    # crash injection: stage succeeds, commit never happens
    delta = ev.filter(F.col("event_id") % 3 == 1)
    real_commit = t.commit
    t.commit = lambda *a, **k: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        refresh_rollup_tx(spark, delta, t, batch_id="b1")
    t.commit = real_commit

    # old snapshot intact, orphans invisible
    assert _state(spark, t) == before
    assert not t.is_applied("b1")

    # retry applies exactly once
    r = refresh_rollup_tx(spark, delta, t, batch_id="b1")
    assert r["replayed"] is False
    want = {
        (r0["bucket_ns"], r0["event_type"]): (r0["n"], float(r0["sum_value"]))
        for r0 in aggregate_bucketed(
            ev.filter(F.col("event_id") % 3 <= 1)
        ).collect()
    }
    assert _state(spark, t) == want

    # vacuum sweeps the crashed write's orphan files
    live = {f["path"] for f in t.live_files()}
    on_disk = {
        os.path.join(d, n)
        for d, _, ns in os.walk(t.data_dir)
        for n in ns
        if n.endswith(".parquet")
    }
    assert on_disk - live  # orphans exist before vacuum
    t.vacuum(retain_versions=1)
    on_disk_after = {
        os.path.join(d, n)
        for d, _, ns in os.walk(t.data_dir)
        for n in ns
        if n.endswith(".parquet")
    }
    assert on_disk_after == live
    assert _state(spark, t) == want  # still readable after vacuum


def test_tx_time_travel_and_manifest_pruning(spark, txroot):
    ev = load(spark, SF_SMOKE, "events")
    t = TxTable(txroot)
    refresh_rollup_tx(spark, ev.filter(F.col("event_id") % 2 == 0), t)
    v0 = {
        (r["bucket_ns"], r["event_type"]): r["n"]
        for r in t.read(spark, version=0).collect()
    }
    refresh_rollup_tx(spark, ev.filter(F.col("event_id") % 2 == 1), t)
    # time travel: version 0 still reads the pre-refresh state
    assert {
        (r["bucket_ns"], r["event_type"]): r["n"]
        for r in t.read(spark, version=0).collect()
    } == v0

    # manifest pruning: a one-bucket read lists exactly that bucket's
    # files — file skipping happens before Spark ever sees a path
    buckets = sorted({b for b, _ in _state(spark, t)})
    one = buckets[0]
    pruned = t.live_files(partitions={one})
    assert pruned and all(f["partition"] == str(one) for f in pruned)
    got = t.read(spark, partitions={one})
    assert got.select("bucket_ns").distinct().collect()[0][0] == one


def test_tx_commit_conflict_detection(spark, txroot):
    """Optimistic concurrency: publishing against a stale
    expected_version raises CommitConflict; blind same-version link
    also loses with CommitConflict (put-if-absent)."""
    ev = load(spark, SF_SMOKE, "events").limit(200)
    t = TxTable(txroot)
    refresh_rollup_tx(spark, ev, t)
    adds = t.stage_files(aggregate_bucketed(ev), "bucket_ns")
    # writer A commits v1
    t.commit(adds, remove_partitions=set())
    # writer B derived against v0 and tries to publish
    with pytest.raises(CommitConflict):
        t.commit(adds, remove_partitions=set(), expected_version=0)


def test_tx_upsert_restates_and_replays(spark, txroot):
    """Keyed MERGE through the tx log: restated rows replace priors,
    replay of the same batch_id is a no-op, untouched partitions keep
    their files (manifest diff, not rewrite)."""
    orders = load(spark, SF_SMOKE, "orders").withColumn(
        "order_year", F.year(F.col("o_orderdate").cast("timestamp"))
    )
    t = TxTable(txroot)
    r0 = upsert_by_key_tx(
        spark, orders, t, "o_orderkey", "order_year", batch_id="seed"
    )
    assert r0["touched_partitions"] >= 1
    total = t.read(spark).count()

    # restate 5 orders from one year with new totalprice
    one_year = orders.orderBy("o_orderkey").limit(5).withColumn(
        "o_totalprice", F.lit(999999.0)
    )
    files_before = {
        f["path"]: f["partition"] for f in t.live_files()
    }
    r1 = upsert_by_key_tx(
        spark, one_year, t, "o_orderkey", "order_year", batch_id="restate"
    )
    assert r1["upserted_rows"] == 5
    after = t.read(spark)
    assert after.count() == total  # replaced, not appended
    assert (
        after.filter(F.col("o_totalprice") == 999999.0).count() == 5
    )
    # partitions the restatement didn't touch kept their physical files
    touched = {
        str(r[0]) for r in one_year.select("order_year").distinct().collect()
    }
    untouched_before = {
        p for p, pv in files_before.items() if pv not in touched
    }
    files_after = {f["path"] for f in t.live_files()}
    assert untouched_before <= files_after

    # replay
    r2 = upsert_by_key_tx(
        spark, one_year, t, "o_orderkey", "order_year", batch_id="restate"
    )
    assert r2["replayed"] is True
    assert t.read(spark).count() == total


def test_plain_path_window_exists_tx_does_not(spark, tmp_path):
    """Document the exact failure the tx log fixes: on the plain path,
    wipe the ledger marker after a successful refresh (== crash
    between overwrite and marker) and replay → state double-counts.
    The tx path has no such intermediate to crash into."""
    from nfl_data_pipeline_spark.jobs.rollup import (
        _ledger_dir,
        read_rollup,
        refresh_rollup,
    )

    ev = load(spark, SF_SMOKE, "events").limit(1000)
    plain = str(tmp_path / "plain")
    refresh_rollup(spark, ev, plain, batch_id="b0")
    n0 = {
        (r["bucket_ns"], r["event_type"]): r["n"]
        for r in read_rollup(spark, plain).collect()
    }
    shutil.rmtree(_ledger_dir(plain))  # the crash window, made flesh
    refresh_rollup(spark, ev, plain, batch_id="b0")
    n1 = {
        (r["bucket_ns"], r["event_type"]): r["n"]
        for r in read_rollup(spark, plain).collect()
    }
    assert n1 == {k: 2 * v for k, v in n0.items()}  # the double-count

    # tx path: same adversarial replay cannot double-count — the only
    # pre-commit state is "nothing happened"
    t = TxTable(str(tmp_path / "tx"))
    refresh_rollup_tx(spark, ev, t, batch_id="b0")
    s0 = _state(spark, t)
    refresh_rollup_tx(spark, ev, t, batch_id="b0")
    assert _state(spark, t) == s0


def test_tx_streaming_maintenance_exactly_once(spark, tmp_path):
    """foreachBatch + TxTable: availableNow pass over a file source,
    then a checkpoint-rollback replay of the same files — state equals
    ONE batch aggregate (the end-to-end exactly-once composition)."""
    from nfl_data_pipeline_spark.streaming.ingest import (
        rollup_maintenance_stream_tx,
    )

    ev = load(spark, SF_SMOKE, "events").limit(2000)
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    t = TxTable(str(tmp_path / "tx"))
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).parquet(src)
    q = rollup_maintenance_stream_tx(spark, stream, t, ckpt)
    q.awaitTermination(120)

    want = {
        (r["bucket_ns"], r["event_type"]): (r["n"], float(r["sum_value"]))
        for r in aggregate_bucketed(spark.read.parquet(src)).collect()
    }
    assert _state(spark, t) == want

    # checkpoint rollback: wipe the checkpoint, re-run from scratch —
    # batch ids restart at 0, the manifest's applied set rejects them
    shutil.rmtree(ckpt)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = rollup_maintenance_stream_tx(spark, stream2, t, ckpt)
    q2.awaitTermination(120)
    assert _state(spark, t) == want


def test_tx_stats_skipping_and_compaction(spark, txroot):
    """Per-file column stats land in the manifest from parquet footers
    (no extra scan); range reads skip files that cannot match; repeated
    merges accumulate small files that compact() collapses — with data,
    time travel, and skipping all intact."""
    ev = load(spark, SF_SMOKE, "events")
    t = TxTable(txroot)

    # three refreshes → 3 files per touched bucket (the streaming
    # small-file problem, on purpose)
    for i in range(3):
        delta = ev.filter(F.col("event_id") % 3 == i)
        inc = aggregate_bucketed(delta)
        adds = t.stage_files(inc, "bucket_ns", stats_cols=["event_type", "n"])
        # merge-free commit (append) keeps all three files per bucket
        t.commit(adds, batch_id=f"b{i}")

    files = t.live_files()
    assert all("stats" in f and "event_type" in f["stats"] for f in files)
    from collections import Counter

    by_part = Counter(f["partition"] for f in files)
    assert max(by_part.values()) == 3
    crowded = {p for p, n in by_part.items() if n >= 2}
    assert crowded

    # stats skipping: event_type range entirely above 'zzz' matches nothing
    assert t.live_files(ranges={"event_type": ("zzz", None)}) == []
    # a real value prunes nothing away that could match
    some_type = t.read(spark).select("event_type").first()[0]
    kept = t.live_files(ranges={"event_type": (some_type, some_type)})
    got = t.read(spark, ranges={"event_type": (some_type, some_type)})
    assert kept and got.filter(F.col("event_type") == some_type).count() > 0

    total_before = t.read(spark).count()
    rows_before = {
        tuple(r) for r in t.read(spark).select("bucket_ns", "event_type", "n").collect()
    }
    v_before = t.latest_version()

    n_compacted = t.compact(
        spark, min_files=2, partition_col="bucket_ns",
        stats_cols=["event_type", "n"],
    )
    assert n_compacted == len(crowded)
    after = Counter(f["partition"] for f in t.live_files())
    assert set(after) == set(by_part) and max(after.values()) == 1
    assert t.read(spark).count() == total_before
    assert {
        tuple(r) for r in t.read(spark).select("bucket_ns", "event_type", "n").collect()
    } == rows_before
    # stats survived the rewrite; time travel still sees the old layout
    assert all("stats" in f for f in t.live_files())
    old = t.live_files(version=v_before)
    assert Counter(f["partition"] for f in old) == by_part
    # batch markers carried through the compaction commit
    assert t.is_applied("b0") and t.is_applied("b2")


def test_batch_id_ring_truncation(spark, txroot):
    """The applied-id ring keeps the newest max_batch_ids in arrival
    order; a dropped id raises TruncatedBatchHistory instead of
    guessing (double-apply vs drop are both worse than failing)."""
    from nfl_data_pipeline_spark.jobs.txlog import (
        TruncatedBatchHistory,
        TxTable,
    )

    t = TxTable(txroot, max_batch_ids=3)
    df = spark.range(2).select(F.col("id").alias("k"))
    for i in range(5):
        t.commit(t.stage_files(df), batch_id=f"b{i}")
    m = t.manifest()
    assert m["batch_ids"] == ["b2", "b3", "b4"]  # arrival order, newest 3
    assert m["batch_ids_dropped"] == 2
    assert t.is_applied("b3") and t.is_applied("b4")
    # DEFAULT: unknown ids (dropped-old OR genuinely new) read as
    # new — False — so writers keep committing past the ring size;
    # a replay older than the ring double-applies, the documented
    # degradation of a bounded id history
    assert not t.is_applied("b0")
    assert not t.is_applied("never-seen")
    # STRICT: operators that must not guess get the raise
    with pytest.raises(TruncatedBatchHistory):
        t.is_applied("b0", strict=True)
    with pytest.raises(TruncatedBatchHistory):
        t.is_applied("never-seen", strict=True)
    assert t.is_applied("b4", strict=True)  # in-ring stays decidable
    # and the writer-bricking scenario is gone: the NEXT new batch id
    # commits cleanly after truncation
    t.commit(t.stage_files(df), batch_id="b5")
    assert t.is_applied("b5")


def test_batch_id_no_truncation_plain_false(spark, txroot):
    t = TxTable(txroot)
    df = spark.range(2).select(F.col("id").alias("k"))
    t.commit(t.stage_files(df), batch_id="b0")
    assert t.is_applied("b0")
    assert not t.is_applied("nope")  # no truncation → definitive False


def test_read_changes_append_only_is_row_cdc(spark, txroot):
    """Append-only commits: read_changes(v) returns exactly the rows
    inserted after v."""
    t = TxTable(txroot)
    a = spark.range(0, 3).select(F.col("id").alias("k"))
    b = spark.range(10, 12).select(F.col("id").alias("k"))
    t.commit(t.stage_files(a), batch_id="a")
    v1 = t.latest_version()
    t.commit(t.stage_files(b), batch_id="b")
    delta = t.read_changes(spark, from_version=v1)
    assert sorted(r["k"] for r in delta.collect()) == [10, 11]
    assert t.read_changes(spark, from_version=t.latest_version()) is None


def test_read_changes_rewrite_is_partition_cdc(spark, txroot):
    """Partition-rewrite commits: changed_partitions names exactly the
    rewritten partitions and read_changes returns their NEW state."""
    t = TxTable(txroot)
    df = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    t.commit(t.stage_files(df, "p"), batch_id="base")
    v1 = t.latest_version()
    newp0 = spark.range(100, 103).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("p")
    )
    t.commit(
        t.stage_files(newp0, "p"),
        remove_partitions={"0"},
        batch_id="rewrite",
    )
    assert t.changed_partitions(v1) == {"0"}
    delta = t.read_changes(spark, from_version=v1)
    assert sorted(r["k"] for r in delta.collect()) == [100, 101, 102]
    # untouched partition unchanged, full table consistent
    assert sorted(
        r["k"] for r in t.read(spark).filter("p = 1").collect()
    ) == [1, 3, 5]


def test_clustering_compaction_enables_range_skipping(spark, txroot):
    """Unclustered writes spread every value range across every file
    (stats skip nothing); a cluster_by compaction range-splits the
    rows so a narrow range= read prunes most files — with identical
    table contents before and after."""
    t = TxTable(txroot)
    # shuffled order → every staged file spans the full k range
    df = spark.range(20_000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    ).orderBy(F.md5(F.col("id").cast("string")))
    adds = t.stage_files(
        df.repartition(8), stats_cols=["k"]
    )
    t.commit(adds, batch_id="load")
    before_files = t.live_files(ranges={"k": (100, 199)})
    assert len(before_files) == len(t.live_files())  # nothing skipped

    t.compact(
        spark, stats_cols=["k"], cluster_by=["k"], cluster_files=8
    )
    after_all = t.live_files()
    after_pruned = t.live_files(ranges={"k": (100, 199)})
    assert len(after_all) >= 4
    assert len(after_pruned) <= 2, (
        f"clustered read should prune to ~1 file, got {len(after_pruned)} "
        f"of {len(after_all)}"
    )
    # contents identical and the pruned read is a superset of the range
    rows = t.read(spark, ranges={"k": (100, 199)}).filter(
        (F.col("k") >= 100) & (F.col("k") <= 199)
    )
    assert rows.count() == 100
    assert t.read(spark).count() == 20_000


def test_schema_evolution_latest_commit_wins(spark, txroot):
    """Additive evolution: files written before a column existed read
    it as null; a column dropped by the latest commit stops being
    surfaced; time travel resurrects the old shape."""
    t = TxTable(txroot)
    t.commit(
        t.stage_files(
            spark.range(3).select(F.col("id").alias("k"))
        ),
        batch_id="v0",
    )
    v0 = t.latest_version()
    t.commit(
        t.stage_files(
            spark.range(10, 13).select(
                F.col("id").alias("k"), F.lit("x").alias("tag")
            )
        ),
        batch_id="v1",
    )
    cur = t.read(spark)
    assert set(cur.columns) == {"k", "tag"}
    got = {r["k"]: r["tag"] for r in cur.collect()}
    assert got[1] is None and got[11] == "x"  # old files null-filled
    # time travel: the v0 snapshot has no tag column
    assert set(t.read(spark, version=v0).columns) == {"k"}
    # dropping: a commit without tag makes it vanish going forward
    t.commit(
        t.stage_files(spark.range(20, 22).select(F.col("id").alias("k"))),
        batch_id="v2",
    )
    assert set(t.read(spark).columns) == {"k"}
    assert t.read(spark).count() == 8


@pytest.mark.smoke
def test_read_opens_snapshot_without_spark_jobs(spark, txroot):
    """Opening a snapshot is driver work. Past the first read (the
    one schema inference), ``read`` submits no Spark job at a new
    version — the schema cache is keyed on the anchor's footer
    schema, not the version — nor once the snapshot lists more than
    32 files (no parallel listing job)."""
    t = TxTable(txroot)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def read_jobs(group):
        sc.setJobGroup(group, "tx snapshot read")
        try:
            df = t.read(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, list(tracker.getJobIdsForGroup(group))

    for i in range(6):
        rows = spark.range(i * 8, i * 8 + 8).select(
            F.col("id").alias("k"), (F.col("id") % 8).alias("p")
        )
        t.commit(t.stage_files(rows, "p"), batch_id=f"b{i}")
        df, jobs = read_jobs(f"txread-{i}")
        if i > 0:
            assert jobs == [], f"read at v{i} submitted jobs {jobs}"
    assert len(t.live_files()) > 32
    assert df.schema == spark.read.parquet(t.manifest()["schema_file"]).schema
    assert len(t._schema_cache) == 1
    assert sorted(r["k"] for r in df.collect()) == list(range(48))


def test_type_change_rejected_at_commit(spark, txroot):
    """Changing a column's type is not evolution — the commit must
    fail loudly instead of leaving a table whose pinned reads break."""
    t = TxTable(txroot)
    t.commit(
        t.stage_files(spark.range(3).select(F.col("id").alias("k"))),
        batch_id="v0",
    )
    bad = t.stage_files(
        spark.range(3).select(F.col("id").cast("int").alias("k"))
    )
    with pytest.raises(ValueError, match="incompatible schema change"):
        t.commit(bad, batch_id="v1")
    # table unchanged
    assert t.latest_version() == 0


def test_cdc_drives_downstream_rollup(spark, tmp_path):
    """Composition contract: a downstream aggregate stays in sync
    with an append-only base table by folding each version-to-version
    read_changes delta through merge_grouped_sums — no base rescans,
    and replaying a poll (same from-version, same batch id) is a
    no-op."""
    from nfl_data_pipeline_spark.jobs.txlog import merge_grouped_sums

    base = TxTable(str(tmp_path / "base"))
    down = TxTable(str(tmp_path / "down"))

    def poll(from_v):
        to_v = base.latest_version()
        delta = base.read_changes(spark, from_version=from_v, to_version=to_v)
        if delta is not None:
            agg = (
                delta.groupBy("grp")
                .agg(F.sum("x").cast("long").alias("sx"))
                .withColumn("_part", F.col("grp"))
            )
            merge_grouped_sums(
                spark, agg, down, ["grp"], ["sx"], "_part",
                batch_id=f"poll-{from_v}-{to_v}",
            )
        return to_v

    cursor = -1  # manifest version -1 == empty table
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 10).select(
            (F.col("id") % 3).alias("grp"), F.col("id").alias("x")
        )
        base.commit(base.stage_files(df, "grp"), batch_id=f"load-{i}")
        cursor = poll(cursor)

    want = {
        (r["grp"], r["sx"])
        for r in base.read(spark)
        .groupBy("grp")
        .agg(F.sum("x").cast("long").alias("sx"))
        .collect()
    }
    got = {
        (r["grp"], r["sx"])
        for r in down.read(spark).select("grp", "sx").collect()
    }
    assert got == want
    # replaying the last poll changes nothing
    last_v = base.latest_version()
    delta = base.read_changes(spark, from_version=1, to_version=last_v)
    agg = (
        delta.groupBy("grp").agg(F.sum("x").cast("long").alias("sx"))
        .withColumn("_part", F.col("grp"))
    )
    assert not merge_grouped_sums(
        spark, agg, down, ["grp"], ["sx"], "_part",
        batch_id=f"poll-1-{last_v}",
    )
    got2 = {
        (r["grp"], r["sx"])
        for r in down.read(spark).select("grp", "sx").collect()
    }
    assert got2 == want


def test_zorder_clustering_skips_on_both_dimensions(spark, tmp_path):
    """Linear clustering on x makes stats selective on x only; the
    Morton-key clustering keeps BOTH dimensions' per-file ranges
    narrow, so range reads on either column skip files."""
    from nfl_data_pipeline_spark.jobs.txlog import zorder_key

    n, files = 200_000, 16
    df = spark.range(n).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(4096)).alias("x"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(4096)).alias("y"),
        F.col("id").alias("payload"),
    )

    def build(root, cluster_by):
        t = TxTable(str(tmp_path / root))
        t.commit(
            t.stage_files(
                df.repartition(files) if cluster_by is None else df,
                stats_cols=["x", "y"],
                cluster_by=cluster_by,
                cluster_files=files,
            )
        )
        return t

    plain = build("plain", None)
    linear = build("linear", ["x"])
    lo, hi = plain.column_domain(["x", "y"])
    zt = build("z", [zorder_key(["x", "y"], lo, hi, bits=12)])

    def hit(t, col):
        return len(t.live_files(ranges={col: (100, 199)}))

    total = len(plain.live_files())
    assert total == files
    # plain: nothing skipped on either dim
    assert hit(plain, "x") == total and hit(plain, "y") == total
    # linear: x prunes hard, y not at all
    assert hit(linear, "x") <= 2
    assert hit(linear, "y") == total
    # zorder: both dims prune meaningfully (neither as hard as a
    # dedicated sort, neither abandoned)
    assert hit(zt, "x") <= total // 2
    assert hit(zt, "y") <= total // 2
    # correctness: the pruned read still returns every matching row
    for t in (plain, linear, zt):
        got = (
            t.read(spark, ranges={"x": (100, 199)})
            .filter((F.col("x") >= 100) & (F.col("x") <= 199))
            .count()
        )
        want = df.filter((F.col("x") >= 100) & (F.col("x") <= 199)).count()
        assert got == want


def test_partition_values_with_special_chars_round_trip(spark, txroot):
    """Hive percent-escapes ':' '/' '=' in partition dir names; the
    manifest must store the RAW value or rewrites/reads comparing
    str(value) silently miss (old+new files both stay live and counts
    double)."""
    t = TxTable(txroot)
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "x/y"), (3, "p=q"), (4, "plain")],
        "k long, src string",
    )
    t.commit(t.stage_files(df, "src"), batch_id="load")
    assert {f["partition"] for f in t.live_files()} == {
        "a:b", "x/y", "p=q", "plain"
    }
    # pruned read by the raw value
    got = t.read(spark, partitions={"a:b"})
    assert [r["k"] for r in got.collect()] == [1]
    # partition rewrite actually replaces, never duplicates
    t.commit(
        t.stage_files(
            spark.createDataFrame([(10, "a:b")], "k long, src string"), "src"
        ),
        remove_partitions={"a:b"},
        batch_id="rewrite",
    )
    assert sorted(
        r["k"] for r in t.read(spark, partitions={"a:b"}).collect()
    ) == [10]
    assert t.read(spark).count() == 4


def test_concurrent_appenders_all_land_exactly_once(spark, txroot):
    """8 threads race 3 append commits each through the put-if-absent
    protocol with re-derive-and-retry: every staged batch lands
    exactly once, versions are a gapless sequence, and no rows
    duplicate or vanish."""
    import threading

    from nfl_data_pipeline_spark.jobs.txlog import CommitConflict

    t = TxTable(txroot)
    n_threads, n_commits = 8, 3
    errors = []

    def writer(tid):
        try:
            for i in range(n_commits):
                lo = (tid * n_commits + i) * 100
                adds = t.stage_files(
                    spark.range(lo, lo + 100).select(F.col("id").alias("k"))
                )
                for _ in range(50):  # bounded retry, appends are safe
                    try:
                        t.commit(adds, batch_id=f"w{tid}-{i}")
                        break
                    except CommitConflict:
                        continue
                else:
                    raise RuntimeError("retries exhausted")
        except Exception as exc:  # surface into the main thread
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(tid,))
        for tid in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    total = n_threads * n_commits
    assert t.latest_version() == total - 1  # gapless versions
    df = t.read(spark)
    assert df.count() == total * 100
    assert df.select("k").distinct().count() == total * 100
    m = t.manifest()
    assert len(m["batch_ids"]) == total  # every marker present once


def test_vacuum_keeps_live_sidecar_under_noncanonical_paths(spark, tmp_path):
    """ADVICE r3: vacuum compared sidecar paths by exact string and
    required isabs — a manifest meta value spelled non-canonically
    (or a relative table root) had its LIVE bloom sidecar deleted,
    silently degrading every batch to the O(registry) bloom
    bootstrap. Paths are now compared by realpath."""
    t = TxTable(str(tmp_path / "table"))
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    t.commit(t.stage_files(df), batch_id="b0")
    side_dir = os.path.join(t.root, "sidecar")
    os.makedirs(side_dir, exist_ok=True)
    live = os.path.join(side_dir, "live.blm")
    orphan = os.path.join(side_dir, "orphan.blm")
    for p in (live, orphan):
        with open(p, "wb") as f:
            f.write(b"\x00")
    # reference the sidecar by an equivalent-but-different spelling
    noncanon = os.path.join(t.root, "data", "..", "sidecar", "live.blm")
    assert noncanon != live and os.path.realpath(noncanon) == os.path.realpath(live)
    t.commit(t.stage_files(df), batch_id="b1", meta={"bloom": noncanon})
    t.vacuum(retain_versions=1)
    assert os.path.exists(live), "live sidecar was vacuumed"
    assert not os.path.exists(orphan), "orphan sidecar survived"


def test_last_checkpoint_hint_resolution(spark, tmp_path):
    """VERDICT r3 #7: head resolution is hint + probe-forward, O(1) in
    version count — and the hint is never load-bearing: stale,
    missing, or corrupt hints all degrade to correct answers."""
    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    staged = t.stage_files(df)
    for i in range(5):
        t.commit(list(staged), batch_id=f"b{i}")
    assert t.latest_version() == 4
    assert t._read_hint() == 4

    # stale hint (lost race / crash before hint write): probe forward
    t._write_hint(1)
    assert t.latest_version() == 4
    # corrupt hint: full-scan fallback
    with open(t._hint_path(), "w") as f:
        f.write("not-a-number")
    assert t.latest_version() == 4
    # missing hint (legacy table): full-scan fallback, then commit
    # repairs it
    os.unlink(t._hint_path())
    assert t.latest_version() == 4
    t.commit(list(staged), batch_id="b5")
    assert t._read_hint() == 5

    # hint pointing at a vacuumed-away manifest: fallback still right
    t._write_hint(0)
    t.vacuum(retain_versions=1)
    assert t.latest_version() == 5


def test_fast_stats_metadata_only_aggregates(spark, tmp_path):
    """VERDICT r3 #9 (aggregate pushdown substitute): exact COUNT and
    MIN/MAX from the manifest alone — no scan — matching the full
    read; partition-pruned variants too; legacy entries without row
    counts degrade count to None, never to a wrong number."""
    t = TxTable(str(tmp_path / "t"))
    df = spark.range(5_000).select(
        (F.col("id") % 4).alias("p"),
        F.col("id").alias("k"),
        (F.col("id") * 7 % 997).alias("v"),
    )
    t.commit(t.stage_files(df, "p", stats_cols=["k", "v"]), batch_id="b0")

    fs = t.fast_stats(["k", "v"])
    assert fs["rows"] == 5_000
    assert fs["min"]["k"] == 0 and fs["max"]["k"] == 4_999
    full = t.read(spark).agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    ).first()
    assert fs["min"]["v"] == full["lo"] and fs["max"]["v"] == full["hi"]

    pruned = t.fast_stats(["k"], partitions={1})
    assert pruned["rows"] == t.read(spark, partitions={1}).count()
    assert pruned["min"]["k"] == 1  # smallest id with id % 4 == 1

    # a column without recorded stats is omitted, not guessed
    assert "p" not in t.fast_stats(["p"])["min"]

    # legacy manifest entry (pre rows-tracking): count becomes None
    import json as _json

    m = t.manifest()
    m["files"][0].pop("rows", None)
    path = os.path.join(t.log_dir, f"{t.latest_version():08d}.json")
    with open(path, "w") as f:
        _json.dump(m, f)
    assert t.fast_stats()["rows"] is None


def test_footer_stats_skip_statistics_cap_strings(spark, tmp_path):
    """ADVICE r4: pyarrow reports has_min_max=True with an EMPTY max
    for string values past the 4096-byte statistics cap. Such stats
    must be treated as absent — recording ['a', ''] would make
    fast_stats return a wrong exact MAX and let _may_contain falsely
    skip the file holding the true max."""
    t = TxTable(str(tmp_path / "long"))
    big = "z" * 5000  # exceeds the stats cap; sorts above every row
    df = spark.createDataFrame(
        [(0, "a", 1), (0, big, 2), (0, "m", 3)], "p int, s string, v int"
    )
    t.commit(t.stage_files(df, "p", stats_cols=["s", "v"]), batch_id="b0")
    fs = t.fast_stats(["s", "v"])
    # the capped string column is omitted entirely, never wrong
    assert "s" not in fs["min"] and "s" not in fs["max"]
    # the well-behaved column still has exact stats
    assert fs["min"]["v"] == 1 and fs["max"]["v"] == 3
    # and a ranges read probing ABOVE 'm' must not skip the file
    got = t.read(spark, ranges={"s": ("y", None)}).collect()
    assert [r["v"] for r in got if r["s"] == big] == [2]


def test_applied_version_and_read_before_batch(spark, tmp_path):
    """r8: replay paths whose verdicts depend on registry-side
    frequencies need the snapshot BEFORE a batch's commit.
    applied_version binary-searches the retained manifests;
    read_before_batch time-travels to its predecessor."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(5):
        df = spark.createDataFrame([(i, i * 10)], "p int, v int")
        t.commit(t.stage_files(df, "p"), batch_id=f"b{i}")
    # applying versions are 0..4 in order
    for i in range(5):
        assert t.applied_version(f"b{i}") == i
    assert t.applied_version("never") is None

    # pre-batch snapshot: rows committed strictly before the batch
    for i in range(1, 5):
        got = sorted(
            r["v"] for r in t.read_before_batch(spark, f"b{i}").collect()
        )
        assert got == [k * 10 for k in range(i)]
    # the first batch saw an empty table
    assert t.read_before_batch(spark, "b0") is None
    # partition pruning applies to the old snapshot too
    pruned = t.read_before_batch(spark, "b4", partitions={"1"})
    assert [r["v"] for r in pruned.collect()] == [10]

    # vacuumed predecessor → Ellipsis (fallback marker), not a wrong
    # answer: retain only the 2 newest manifests, then ask for b2's
    # pre-snapshot (v1 manifest is gone)
    t.vacuum(retain_versions=2)
    assert t.read_before_batch(spark, "b2") is Ellipsis
    # the newest batch's predecessor is still retained
    assert t.read_before_batch(spark, "b4") is not Ellipsis


def test_tx_comoments_merge_bit_identical(spark, txroot):
    """Co-moment state merged over three deltas == one-shot
    aggregation, BIT-IDENTICAL (exact decimal sums, not approximate
    corr merging), and the derived corr matches F.corr to float
    tolerance."""
    from nfl_data_pipeline_spark.jobs.rollup import (
        aggregate_comoments,
        derive_comoments,
        refresh_comoments_tx,
    )

    ev = load(spark, SF_SMOKE, "events")
    t = TxTable(txroot)
    for i in range(3):
        r = refresh_comoments_tx(
            spark,
            ev.filter(F.col("event_id") % 3 == i),
            t,
            batch_id=f"b{i}",
        )
        assert not r["replayed"]

    def key(df):
        return {
            (r["bucket_ns"], r["event_type"]): tuple(
                r[c] for c in ("n", "sum_x", "sum_y", "sum_xx", "sum_yy", "sum_xy")
            )
            for r in df.collect()
        }

    merged = key(t.read(spark))
    oneshot = key(aggregate_comoments(ev))
    assert merged == oneshot, "decimal state must merge exactly"

    # replay: same batch id is a no-op
    again = refresh_comoments_tx(spark, ev.limit(100), t, batch_id="b0")
    assert again["replayed"] is True
    assert key(t.read(spark)) == oneshot

    # derived corr agrees with the engine's own corr per cell
    derived = {
        (r["bucket_ns"], r["event_type"]): r["corr"]
        for r in derive_comoments(t.read(spark)).collect()
    }
    from nfl_data_pipeline_spark.jobs.rollup import HOUR_NS

    quant = ev.filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        (F.col("ts") - F.col("ts") % HOUR_NS).alias("bucket_ns"),
        "event_type",
        F.col("value").cast("decimal(15,6)").cast("double").alias("x"),
        F.col("user_id").cast("decimal(15,6)").cast("double").alias("y"),
    )
    engine = {
        (r["bucket_ns"], r["event_type"]): r["c"]
        for r in quant.groupBy("bucket_ns", "event_type")
        .agg(F.corr("x", "y").alias("c"))
        .collect()
    }
    assert set(derived) == set(engine)
    import math

    for k, v in derived.items():
        e = engine[k]
        if v is None or e is None or math.isnan(e):
            # single-row / zero-variance cells: engine corr NULL/NaN,
            # derived NULL
            assert v is None and (e is None or math.isnan(e))
        else:
            assert v == pytest.approx(e, abs=1e-9)


def test_tx_streaming_comoments_bit_identical_and_replay_safe(
    spark, tmp_path
):
    """Streaming co-moment maintenance: the availableNow pass over a
    file source accumulates state BIT-IDENTICAL to a one-shot batch
    aggregation, and a checkpoint-rollback replay changes nothing
    (batch ids restart at 0; the manifest's applied set rejects
    them)."""
    from nfl_data_pipeline_spark.jobs.rollup import aggregate_comoments
    from nfl_data_pipeline_spark.streaming.ingest import (
        comoment_maintenance_stream_tx,
    )

    ev = load(spark, SF_SMOKE, "events").limit(2000)
    src = str(tmp_path / "src")
    ev.coalesce(4).write.parquet(src)  # several files → several batches
    schema = spark.read.parquet(src).schema

    t = TxTable(str(tmp_path / "tx"))
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = comoment_maintenance_stream_tx(spark, stream, t, ckpt)
    q.awaitTermination(120)

    def key(df):
        return {
            (r["bucket_ns"], r["event_type"]): tuple(
                r[c]
                for c in ("n", "sum_x", "sum_y", "sum_xx", "sum_yy", "sum_xy")
            )
            for r in df.collect()
        }

    want = key(aggregate_comoments(spark.read.parquet(src)))
    assert key(t.read(spark)) == want

    shutil.rmtree(ckpt)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = comoment_maintenance_stream_tx(spark, stream2, t, ckpt)
    q2.awaitTermination(120)
    assert key(t.read(spark)) == want


def test_tx_distinct_sketch_rollup_merge_lossless(spark, tmp_path):
    """HLL distinct-count rollup: three incremental refreshes yield
    the SAME per-cell estimate as a one-shot sketch (union is
    register-lossless), the estimate is within HLL error of exact,
    replay is a no-op, and rolling hours up to a coarser grain via
    sketch union matches the coarser one-shot sketch."""
    from nfl_data_pipeline_spark.jobs.rollup import (
        aggregate_distinct_sketch,
        derive_distinct_counts,
        refresh_distinct_rollup_tx,
    )

    ev = load(spark, SF_SMOKE, "events")
    t = TxTable(str(tmp_path / "tx"))
    for i in range(3):
        r = refresh_distinct_rollup_tx(
            spark, ev.filter(F.col("event_id") % 3 == i), t,
            batch_id=f"b{i}",
        )
        assert not r["replayed"]

    got = {
        (r["bucket_ns"], r["event_type"]): (r["n"], r["distinct_keys"])
        for r in derive_distinct_counts(t.read(spark)).collect()
    }
    want = {
        (r["bucket_ns"], r["event_type"]): (r["n"], r["distinct_keys"])
        for r in derive_distinct_counts(
            aggregate_distinct_sketch(ev)
        ).collect()
    }
    assert got == want, "merged estimates must equal one-shot exactly"

    # sanity vs exact distinct: lg_k=12 → ~1.6% rel err; cells here
    # are small enough that HLL is exact or near-exact
    exact = {
        (r["bucket_ns"], r["event_type"]): r["d"]
        for r in ev.withColumnRenamed("ts", "ts_ns")
        .filter(F.col("user_id").isNotNull())
        .groupBy(
            (F.col("ts_ns") - F.col("ts_ns") % 3_600_000_000_000).alias(
                "bucket_ns"
            ),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(exact) == set(got)
    for k, d in exact.items():
        assert abs(got[k][1] - d) <= max(2, 0.05 * d)

    # replay no-op
    again = refresh_distinct_rollup_tx(spark, ev.limit(50), t, batch_id="b0")
    assert again["replayed"] is True

    # hour → day rollup by sketch union == one-shot day sketch
    day_ns = 24 * 3_600_000_000_000
    rolled = (
        t.read(spark)
        .groupBy(
            (F.col("bucket_ns") - F.col("bucket_ns") % day_ns).alias("day_ns"),
            "event_type",
        )
        .agg(F.hll_union_agg("sketch").alias("sk"))
        .select(
            "day_ns",
            "event_type",
            F.round(F.hll_sketch_estimate("sk")).cast("long").alias("d"),
        )
    )
    day_want = {
        (r["bucket_ns"], r["event_type"]): r["distinct_keys"]
        for r in derive_distinct_counts(
            aggregate_distinct_sketch(ev, bucket_ns=day_ns)
        ).collect()
    }
    day_got = {
        (r["day_ns"], r["event_type"]): r["d"] for r in rolled.collect()
    }
    assert day_got == day_want


def test_tx_distinct_sketch_lg_k_is_a_table_property(spark, tmp_path):
    """A refresh with a different lg_k than the table's stamp fails
    FAST with a clear error (register widths cannot union)."""
    from nfl_data_pipeline_spark.jobs.rollup import (
        refresh_distinct_rollup_tx,
    )

    ev = load(spark, SF_SMOKE, "events").limit(300)
    t = TxTable(str(tmp_path / "tx"))
    refresh_distinct_rollup_tx(spark, ev, t, batch_id="b0")
    assert t.meta().get("hll_lg_k") == 12
    with pytest.raises(ValueError, match="hll_lg_k"):
        refresh_distinct_rollup_tx(spark, ev, t, lg_k=14, batch_id="b1")


def test_pv_str_matches_spark_cast_semantics():
    """_pv_str is the driver-side twin of stage_files' Spark
    cast("string") partition keying (r11 ADVICE txlog.py:1129):
    booleans must go lowercase, dates ISO, and the
    formatting-unstable types must be rejected, not guessed."""
    import datetime
    import decimal

    from nfl_data_pipeline_spark.jobs.txlog import _pv_str

    assert _pv_str(True) == "true"
    assert _pv_str(False) == "false"
    assert _pv_str("ok") == "ok"
    assert _pv_str(42) == "42"
    assert _pv_str(datetime.date(2024, 9, 8)) == "2024-09-08"
    with pytest.raises(ValueError):
        _pv_str(None)
    for bad in (1.5, decimal.Decimal("1.5"),
                datetime.datetime(2024, 9, 8)):
        with pytest.raises(TypeError):
            _pv_str(bad)


def test_boolean_partition_driver_merge_does_not_fork(spark, tmp_path):
    """A boolean-partitioned state table written by the DISTRIBUTED
    path (Spark cast → 'true'/'false') must be found and folded by
    the driver-side small-merge path. Before _pv_str, the driver
    keyed touched partitions by Python str(True)='True', missing the
    state files entirely and silently forking the partition keys."""
    from nfl_data_pipeline_spark.jobs.txlog import merge_grouped_sums

    table = TxTable(str(tmp_path / "boolpart"))
    df = spark.createDataFrame(
        [(True, "a", 5), (True, "b", 7), (False, "a", 11)],
        "flag boolean, k string, sx long",
    )
    # distributed write: partitions keyed via Spark cast("string")
    table.commit(table.stage_files(df, "flag"), batch_id="seed")
    parts = {f["partition"] for f in table.live_files()}
    assert parts == {"true", "false"}

    # metadata-sized delta → the driver-side merge path
    delta = spark.createDataFrame(
        [(True, "a", 100), (False, "c", 1)],
        "flag boolean, k string, sx long",
    )
    assert merge_grouped_sums(
        spark, delta, table, ["k"], ["sx"], "flag", batch_id="b1"
    )
    # no forked keys ('True'/'False'), state actually merged
    parts = {f["partition"] for f in table.live_files()}
    assert parts == {"true", "false"}
    got = {
        (r["flag"], r["k"]): r["sx"]
        for r in table.read(spark).collect()
    }
    assert got == {
        (True, "a"): 105,
        (True, "b"): 7,
        (False, "a"): 11,
        (False, "c"): 1,
    }
    # read-side pruning accepts the Python boolean too
    pruned = table.read(spark, partitions={True})
    assert {r["k"] for r in pruned.collect()} == {"a", "b"}


def test_stage_files_auto_picks_path_by_delta_size(spark, tmp_path):
    """stage_files_auto (r11 VERDICT next #2): a delta at or under
    the bound stages driver-side (zero further Spark jobs), one over
    it takes the distributed stage_files path — both recorded in the
    gate-telemetry ring, both producing identical table contents."""
    from nfl_data_pipeline_spark.jobs.txlog import _pv_str  # noqa: F401
    from nfl_data_pipeline_spark.operators.hints import drain_gate_events

    t = TxTable(str(tmp_path / "auto"))
    drain_gate_events()
    mk = lambda lo, hi: spark.range(lo, hi).select(
        (F.col("id") % 2).alias("b"), F.col("id").alias("x")
    )
    t.commit(t.stage_files_auto(mk(0, 10), "b", small_rows=20),
             batch_id="small")
    t.commit(t.stage_files_auto(mk(10, 110), "b", small_rows=20),
             batch_id="big")
    paths = [e["path"] for e in drain_gate_events()]
    assert paths == ["driver", "distributed"]
    got = {(r["b"], r["x"]) for r in t.read(spark).collect()}
    assert got == {(i % 2, i) for i in range(110)}
    # driver-staged and distributed files share the manifest contract
    parts = {f["partition"] for f in t.live_files()}
    assert parts == {"0", "1"}


def test_stage_files_auto_telemetry_is_honest_past_bound(spark, tmp_path):
    """r12 review: past the bound the exact frame size is unknown
    (the probe stops at N+1) — the event records rows=None plus a
    rows_at_least lower bound instead of a clamp that masquerades as
    a measurement."""
    from nfl_data_pipeline_spark.operators.hints import drain_gate_events

    t = TxTable(str(tmp_path / "honest"))
    drain_gate_events()
    big = spark.range(1000).select(
        (F.col("id") % 2).alias("b"), F.col("id").alias("x")
    )
    t.commit(t.stage_files_auto(big, "b", small_rows=50), batch_id="b")
    (ev,) = drain_gate_events()
    assert ev["path"] == "distributed"
    assert ev["rows"] is None
    assert ev["rows_at_least"] == 51
