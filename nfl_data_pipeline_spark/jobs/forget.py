"""Right-to-be-forgotten deletion — keyed row deletes on tx tables
and registry purges across every incremental dedup gate.

Two layers:

1. ``delete_by_key_tx``: the DELETE sibling of
   ``jobs/upsert.upsert_by_key_tx`` — partition-scoped copy-on-write.
   Only partitions that actually hold matching rows are rewritten
   (touched set discovered by a scan, rewrite cost O(touched), the
   100-TB table stays untouched elsewhere), published as one atomic
   manifest swap with an optional replay marker.

2. ``forget_docs``: one purge of a doc-id set from the persisted
   registries a gate state names (streaming/neardup, embdedup,
   mediadedup, funnel). WHY this must exist: the gates are
   first-arrival-wins — a registered winner's rows silently DROP
   every future near-copy. Once the winner itself is deleted
   (takedown, GDPR, license revocation), its ghost rows would keep
   suppressing legitimate re-arrivals of similar content, referencing
   a document that no longer exists. Purging the registry rows makes
   the next arrival register fresh, exactly as if the deleted doc had
   never been seen.

Gate-config stamps survive purges: ``TxTable.commit`` carries meta
keys forward, so a purge commit keeps the registry probe-compatible.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.hints import gated_broadcast
from nfl_data_pipeline_spark.jobs.txlog import TxTable

# Manifest-meta key recording a forget-oriented range layout (see
# cluster_table_for_deletes): {"col", "lo", "width"} — enough for a
# later delete to compute its spanned partitions arithmetically,
# without the O(table) match scan.
_FORGET_META = "forget_cluster"


def _range_part_expr(id_col: str, lo: int, width: int) -> "F.Column":
    """Exact ``floor((id - lo) / width)`` matching Python's ``//`` for
    ANY int64 id — the ONE formula every range-layout write and probe
    must share. Plain ``F.floor((col - lo) / width)`` is wrong twice
    for hash-derived ids: long subtraction wraps past the int64 span
    (xxhash64 ids make lo ≈ -2^63, so ``id - lo`` overflows), and
    long/long ``/`` routes through double, losing bits above 2^53 —
    rows near a partition boundary land one partition off while the
    Python fast path in ``delete_by_key_tx`` computes the exact
    quotient, so the purge reports deleted_rows=0 and the row
    survives. DECIMAL(21,0) holds the full 2^64 shift exactly, ``DIV``
    truncates, and the remainder sign corrects truncation to floor."""
    sh = F.col(id_col).cast("decimal(20,0)") - F.lit(lo).cast(
        "decimal(20,0)"
    )
    q = F.expr(
        f"CAST(CAST({id_col} AS DECIMAL(20,0)) - CAST({lo} AS"
        f" DECIMAL(20,0)) AS DECIMAL(21,0)) DIV {width}"
    )
    r = sh - q.cast("decimal(21,0)") * F.lit(width).cast("decimal(21,0)")
    return F.when(r < 0, q - 1).otherwise(q).cast("long")


def cluster_table_for_deletes(
    spark: SparkSession,
    table: TxTable,
    id_col: str,
    n_ranges: int = 256,
    partition_col: str = "_fr",
) -> dict:
    """Re-lay a forget-heavy table out by RANGE of the delete key:
    one partition per id range (width from the manifest's min/max —
    zero data IO), each file internally ordered by ``id_col`` with
    min/max stats recorded. Records the range formula in the table
    meta so ``delete_by_key_tx`` can compute the partitions an id set
    spans arithmetically — the delete's SCAN drops from O(table) to
    O(spanned partitions) and its REWRITE to exactly those
    partitions. Hash bucketing destroys delete locality (SCALING.md
    round 5: 100 scattered ids touch 51/64 hash buckets; a contiguous
    user/source purge span fares no better); range layout restores
    it — a contiguous span touches ~1 partition.

    For GENERIC stores (documents, upsert targets) only: a gate
    registry's partition column is its probe-pruning key (chunk val /
    landmark hash buckets) and must NOT be re-laid by doc id —
    registries keep the partition-granular delete path instead.

    Idempotence/atomicity: one manifest swap pinned to the version
    read; ids appended AFTER clustering must carry the same
    ``partition_col`` derived via ``forget_range_col`` from this
    meta."""
    base_v = table.latest_version()
    df = table.read(spark, version=base_v)
    if df is None:
        return {"partitions": 0}
    stats = table.fast_stats([id_col], version=base_v)
    lo = stats["min"].get(id_col)
    hi = stats["max"].get(id_col)
    if lo is None:
        # no footer stats recorded at stage time: one cheap agg
        lo, hi = df.agg(F.min(id_col), F.max(id_col)).first()
    width = max(1, (int(hi) - int(lo)) // n_ranges + 1)
    out = df.drop(partition_col).withColumn(
        partition_col, _range_part_expr(id_col, int(lo), width)
    )
    old_parts = {f["partition"] for f in table.live_files(base_v)}
    adds = table.stage_files(
        out, partition_col, stats_cols=[id_col], cluster_by=[id_col]
    )
    table.commit(
        adds,
        remove_partitions=old_parts,
        expected_version=base_v,
        meta={
            _FORGET_META: {
                "col": partition_col,
                "id_col": id_col,
                "lo": int(lo),
                "width": int(width),
            }
        },
    )
    return {
        "partitions": len({a["partition"] for a in adds}),
        "lo": int(lo),
        "width": int(width),
    }


def forget_range_col(table: TxTable, id_col: str) -> "F.Column | None":
    """The range-partition expression a writer must attach when
    appending rows to a table laid out by ``cluster_table_for_deletes``
    (same formula as the recorded meta); None when the table carries
    no forget layout."""
    fc = table.meta().get(_FORGET_META)
    if not fc or fc["id_col"] != id_col:
        return None
    return _range_part_expr(id_col, fc["lo"], fc["width"])


def delete_by_key_tx(
    spark: SparkSession,
    table: TxTable,
    id_col: str,
    ids: DataFrame | Iterable,
    partition_col: str,
    batch_id: str | None = None,
) -> dict:
    """Delete every row whose ``id_col`` is in ``ids`` from a
    bucketed/partitioned tx table. Copy-on-write at partition
    granularity: untouched partitions keep their files byte-for-byte;
    touched ones are rewritten without the matching rows and swapped
    in atomically (with the removal set) — a crash leaves either
    snapshot whole. Returns ``{"touched_partitions", "deleted_rows",
    "replayed"}``; idempotent under the same ``batch_id``.
    """
    base_v = table.latest_version()
    if base_v is None:
        return {"touched_partitions": 0, "deleted_rows": 0, "replayed": False}
    if batch_id is not None and table.is_applied(batch_id, base_v):
        return {"touched_partitions": 0, "deleted_rows": 0, "replayed": True}
    if isinstance(ids, DataFrame):
        ids_df = ids.select(id_col).distinct()
        id_vals = None
    else:
        id_vals = list(ids)
        if not id_vals:
            return {
                "touched_partitions": 0,
                "deleted_rows": 0,
                "replayed": False,
            }
        from nfl_data_pipeline_spark.operators.localframe import (
            local_frame,
        )

        ids_df = local_frame(
            spark, [(v,) for v in id_vals], f"{id_col} long"
        )
    # a DataFrame id set is a deletion QUEUE — not structurally
    # bounded, so the broadcast is size-gated (list inputs are
    # driver-bounded by construction and always fit)
    ids_df = gated_broadcast(ids_df)

    # Range-clustered fast path (cluster_table_for_deletes): the
    # partitions an id set SPANS follow arithmetically from the
    # recorded range formula — prune the match scan to them, so scan
    # AND rewrite are O(spanned partitions), not O(table).
    scan_parts = None
    fc = table.meta(version=base_v).get(_FORGET_META)
    if fc and fc["col"] == partition_col and fc["id_col"] == id_col:
        lo, width = fc["lo"], fc["width"]
        if id_vals is not None:
            spanned = {(int(v) - lo) // width for v in id_vals}
        else:
            spanned = {
                r[0]
                for r in ids_df.select(
                    _range_part_expr(id_col, lo, width).alias("p")
                )
                .distinct()
                .collect()
            }
        live = {f["partition"] for f in table.live_files(base_v)}
        scan_parts = {p for p in spanned if str(p) in live}
        if not scan_parts:
            return {
                "touched_partitions": 0,
                "deleted_rows": 0,
                "replayed": False,
            }

    current = table.read(spark, version=base_v, partitions=scan_parts)
    if current is None:
        return {"touched_partitions": 0, "deleted_rows": 0, "replayed": False}
    # touched set AND deleted-row count from ONE aggregate over one
    # scan+join (per-partition match counts are a handful of rows).
    # Without a range layout the scan is O(table) — the honest cost
    # of deleting by a non-partition key; the REWRITE is always
    # bounded by the partitions actually holding matches.
    per_part = (
        current.join(ids_df, id_col)
        .groupBy(partition_col)
        .agg(F.count("*").alias("_n"))
        .collect()
    )
    touched = {r[0] for r in per_part}
    n_del = sum(int(r["_n"]) for r in per_part)
    if not touched:
        return {"touched_partitions": 0, "deleted_rows": 0, "replayed": False}
    remaining = table.read(spark, version=base_v, partitions=touched).join(
        ids_df, id_col, "left_anti"
    )
    adds = table.stage_files(
        remaining,
        partition_col,
        # keep id stats fresh on range-clustered tables
        stats_cols=[id_col] if scan_parts is not None else None,
    )
    table.commit(
        adds,
        remove_partitions=touched,
        batch_id=batch_id,
        expected_version=base_v,
    )
    return {
        "touched_partitions": len(touched),
        "deleted_rows": int(n_del),
        "replayed": False,
    }


def forget_docs(
    spark: SparkSession, state, doc_ids, batch_id: str | None = None
) -> dict:
    """Purge doc ids from every registry table of a gate state — the
    text MinHash, embedding, image and audio gates and the funnel's
    fingerprint registry. ``state.registries`` names each table as
    ``(name, table, suffix)``: ids match on ``state.id_col``, and the
    table's purge commit carries ``batch_id + suffix`` (the near-dup
    tables' ``-sigs``/``-sids``), so a purge replays as a no-op per
    table. The funnel's vocab/count tables are AGGREGATES, not
    per-doc records: they hold no row attributable to a document, so
    nothing to purge there."""
    return {
        name: delete_by_key_tx(
            spark, table, state.id_col, doc_ids, "bucket",
            batch_id=batch_id and f"{batch_id}{suffix}",
        )
        for name, table, suffix in state.registries
    }


def forget_docs_curation(
    spark: SparkSession, state, doc_ids, batch_id: str | None = None
) -> dict:
    """One composed purge across everything the curation chain
    persists per-document: the funnel's fingerprint registry and the
    near-dup gate's signature/sids registries
    (streaming/curation.CurationState). The count, histogram, and
    frequent-items tables are AGGREGATES — they hold no row
    attributable to a document (that irreversibility is exactly what
    makes them sketches), so there is nothing to purge there and
    nothing that identifies the forgotten doc."""
    out = forget_docs(
        spark, state.funnel, doc_ids,
        batch_id=batch_id and f"{batch_id}-funnel",
    )
    out.update(forget_docs(spark, state.neardup, doc_ids, batch_id=batch_id))
    return out


# Operating guidance (measured, SCALING.md round 5): uniform-hash
# bucketing spreads a scattered id set across ~(1 - (1-1/B)^n) of the
# buckets, so partition-scoping pays when buckets >> delete-set size,
# or when forget requests are accumulated and purged in periodic
# BATCHES — the rewrite is per-touched-partition, so a 10,000-id
# batch rewrites no more than a 100-id one at the same table size.


class ForgetQueue:
    """Accumulated right-to-be-forgotten requests, purged in batches
    — the measured operating shape (SCALING.md round 5: rewrite cost
    is per-touched-partition, so one large purge costs what a small
    one does). ``enqueue`` appends tombstone ids to a tiny tx table
    (atomic, replay-guarded); ``drain_into_curation`` purges every
    queued id from the curation chain's registries in one pass and
    then truncates the queue.

    Crash safety: the drain derives its purge batch id from the
    queue VERSION it read, so a crash between the purges and the
    truncation replays to no-ops; a concurrent ``enqueue`` during a
    drain survives (the truncation commit carries
    ``expected_version`` and yields to the newer tombstones, which
    the next drain picks up)."""

    def __init__(self, root: str):
        self.table = TxTable(root)

    def enqueue(
        self,
        spark: SparkSession,
        ids: Iterable,
        batch_id: str | None = None,
    ) -> int:
        vals = [(int(v), "q") for v in ids]
        if not vals:
            return 0
        if batch_id is not None and self.table.is_applied(batch_id):
            return 0
        from nfl_data_pipeline_spark.operators.localframe import (
            local_frame,
        )

        df = local_frame(spark, vals, "doc_id long, _part string")
        adds = self.table.stage_files(df.coalesce(1), "_part")
        self.table.commit(adds, batch_id=batch_id)
        return len(vals)

    def pending(self, spark: SparkSession) -> int:
        df = self.table.read(spark)
        return 0 if df is None else df.count()

    def drain_into_curation(self, spark: SparkSession, state) -> dict:
        """Purge every queued id from the funnel + near-dup
        registries (forget_docs_curation), then truncate the queue.
        Returns the per-registry delete report plus the drained
        count; {} when the queue is empty."""
        from nfl_data_pipeline_spark.jobs.txlog import CommitConflict

        v = self.table.latest_version()
        ids = self.table.read(spark, version=v)
        if ids is None:
            return {}
        id_rows = ids.select("doc_id").distinct()
        n = id_rows.count()
        if n == 0:
            return {}
        out = forget_docs_curation(
            spark, state, id_rows, batch_id=f"forgetq-{v}"
        )
        out["drained"] = n
        try:
            self.table.commit(
                [],
                remove_partitions={"q"},
                batch_id=f"forgetq-clear-{v}",
                expected_version=v,
            )
            out["queue_cleared"] = True
            # the truncation is manifest-only; without a vacuum the
            # drained tombstone files accumulate forever (ADVICE r5).
            # retain_versions=1 keeps just the post-clear snapshot —
            # the queue is not a time-travel surface. grace_s guards
            # the documented concurrent-enqueue case: an enqueue that
            # has staged its tombstone parquet but not yet committed
            # is unreferenced by any manifest, and a grace-less vacuum
            # would unlink it — the enqueue then commits a manifest to
            # a missing file and the forget request is silently lost.
            # Drained tombstones older than the window delete now;
            # anything newer deletes on the next drain's vacuum.
            out["queue_files_deleted"] = self.table.vacuum(
                retain_versions=1, grace_s=300.0
            )
        except CommitConflict:
            # new tombstones arrived mid-drain: keep them queued (the
            # already-purged ids re-purge as no-ops next drain)
            out["queue_cleared"] = False
        return out
