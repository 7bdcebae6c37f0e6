"""Incrementally-maintained frequent-items state — the streaming twin
of ``heavy_hitter_ngrams`` (operators/sketches.heavy_hitters).

The one-shot operator re-scans the corpus for exact candidate counts;
a stream cannot (past batches are gone). What CAN be maintained with
bounded state is a merged Misra-Gries summary: per batch, the
batch's EXACT key counts (a zero-error mergeable summary) add into
the state table by summed counts, and the state is re-truncated to
``capacity`` by the mergeable-MG rule (subtract the (capacity+1)-th
largest count, drop non-positive — Agarwal et al., PODS'12). The
merged summary keeps the MG guarantee across any batch arrival
order:

- every key with true count ≥ N/(capacity+1) is IN the state;
- per key, ``mg_count ≤ true ≤ mg_count + err`` with
  ``err = (N − Σ mg_count)/(capacity+1)`` (the summaries-merge bound,
  computable from state + the maintained total).

So a ``phi_inv``-heavy query reports two tiers: ``certain`` keys
(lower bound alone clears the threshold) and candidates whose upper
bound clears it — and NEVER misses a truly heavy key when
``capacity ≥ phi_inv``. Exact batch counts make the state a function
of the batch sequence alone: the input partitioning cannot change it.

State shape: one bounded partition (≤ capacity rows) in a tx table;
the stream length and capacity ride the manifest ``meta`` so they
publish atomically with the rows; batch ids give replay idempotence
like every other gate. The fold is ONE native aggregate with one
exchange: batch rows ``(key, 1, _nb=1)`` union state rows ``(key,
mg_count, _nb=0)`` under ``rollup(key)``, whose grand-total row
carries ``n_batch`` in its ``_nb`` sum. Map-side combine bounds the
shuffle by the batch's distinct keys (per map task, plus the state
keys and one total row each) — never its row count — and no Python
worker runs. The driver sees O(capacity) rows per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nfl_data_pipeline_spark.jobs.txlog import TxTable

_PART = "hh"  # the whole sketch lives in one bounded partition


def update_frequent_state(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    table: TxTable,
    batch_id: str | None = None,
    capacity: int = 10_000,
) -> bool:
    """Fold one batch into the frequent-items state. Returns False
    for a detected replay (same contract as merge_grouped_sums)."""
    from pyspark.sql import functions as F

    base_v = table.latest_version()
    if batch_id is not None and table.is_applied(batch_id, base_v):
        return False
    meta = table.meta(base_v)
    prev_cap = int(meta.get("hh_capacity", capacity))
    if prev_cap != capacity:
        raise ValueError(
            f"state built at capacity {prev_cap}, batch offered "
            f"{capacity} — one capacity per state table"
        )
    # exact batch counts and n_batch in one aggregate: NULL keys are
    # not items, so the rollup's only NULL-key row is the grand
    # total, whose _nb sum is the batch's keyed row count. The whole
    # fold is ONE bounded action: order by count DESC with that row
    # first (its mg_count also sums the state, so it must not compete
    # on count) and take capacity + 2 rows — the n_batch row, every
    # possible survivor of the MG truncation (a survivor needs count >
    # the (capacity+1)-th largest keyed count, and keyed rows beyond
    # the prefix are ≤ it), and the truncation threshold itself.
    one = F.lit(1).cast("long")
    merged = df.select(
        F.col(key_col).cast("string").alias("key"),
        one.alias("mg_count"),
        one.alias("_nb"),
    ).filter(F.col("key").isNotNull())
    existing = table.read(spark, version=base_v)
    if existing is not None:
        merged = merged.unionByName(
            existing.select("key", "mg_count", F.lit(0).alias("_nb"))
        )
    merged = merged.rollup("key").agg(
        F.sum("mg_count").alias("mg_count"), F.sum("_nb").alias("_nb")
    )
    if capacity <= 20_000:
        top = (
            merged.orderBy(
                F.col("key").isNotNull().asc(),
                F.desc("mg_count"),
                F.asc("key"),
            )
            .limit(capacity + 2)
            .collect()
        )
        n_batch = 0
        keyed = []
        for r in top:
            if r["key"] is None:
                n_batch = int(r["_nb"])
            else:
                keyed.append(r)
        if len(keyed) > capacity:
            # the MG decrement: drop ≤ sub, subtract from survivors
            # (≤ capacity counts are strictly greater than the
            # (capacity+1)-th largest, so the result is bounded)
            sub = int(keyed[capacity]["mg_count"])
            keyed = [
                r for r in keyed if int(r["mg_count"]) > sub
            ]
        else:
            sub = 0
        from pyspark.sql import types as T

        rows = [
            {
                "key": r["key"],
                "mg_count": int(r["mg_count"]) - sub,
                "_part": _PART,
            }
            for r in keyed
        ]
        schema = T.StructType(
            [merged.schema["key"], merged.schema["mg_count"]]
            + [T.StructField("_part", T.StringType(), False)]
        )
        adds = table.stage_rows_local(rows, schema, "_part")
    else:
        # large-capacity path: the driver only sees the n_batch row
        # and the threshold values, the state stays distributed
        merged = merged.localCheckpoint(eager=True)
        total = merged.filter(F.col("key").isNull()).first()
        n_batch = int(total["_nb"]) if total is not None else 0
        merged = merged.filter(F.col("key").isNotNull()).drop("_nb")
        top = merged.select("mg_count").orderBy(
            F.desc("mg_count")
        ).limit(capacity + 1).collect()
        if len(top) > capacity:
            sub = int(top[-1]["mg_count"])
            merged = merged.filter(F.col("mg_count") > sub).withColumn(
                "mg_count", F.col("mg_count") - F.lit(sub)
            )
        merged = merged.withColumn("_part", F.lit(_PART)).coalesce(1)
        adds = table.stage_files(merged, "_part")
    # expected_version: a concurrent writer between latest_version()
    # and here would otherwise be silently clobbered (this merge was
    # computed from the base_v snapshot AND the base_v meta) — raise
    # CommitConflict like commit_grouped_sums instead of losing counts
    table.commit(
        adds,
        remove_partitions={_PART},
        batch_id=batch_id,
        expected_version=base_v,
        meta={
            "hh_n_total": int(meta.get("hh_n_total", 0)) + n_batch,
            "hh_capacity": capacity,
        },
    )
    return True


def read_frequent_state(
    spark: SparkSession, table: TxTable, phi_inv: int = 10_000
) -> DataFrame | None:
    """Current heavy-hitter report: ``(key, count_lower, count_upper,
    certain)`` for every key whose UPPER bound clears N/phi_inv —
    ``certain`` marks keys whose lower bound alone clears it. Superset
    guarantee per the module docstring; None when nothing has been
    committed (a committed state the truncation emptied still
    answers, with an empty report)."""
    from pyspark.sql import functions as F

    # pin ONE version for rows and meta — resolving them separately
    # lets a commit land in between and pair mismatched n_total with
    # stale rows, breaking the bracketing bound
    v = table.latest_version()
    if v is None:
        return None
    state = table.read(spark, version=v)
    if state is None:  # committed, but the truncation emptied it
        state = spark.createDataFrame([], "key string, mg_count bigint")
    meta = table.meta(v)
    n_total = int(meta.get("hh_n_total", 0))
    capacity = int(meta.get("hh_capacity", phi_inv))
    if phi_inv > capacity:
        # the no-miss guarantee needs capacity ≥ phi_inv: a state
        # built coarser than the query threshold can silently drop
        # truly heavy keys (their upper bound never surfaces for
        # absent keys) — refuse rather than answer wrong
        raise ValueError(
            f"state built at capacity {capacity} cannot answer "
            f"phi_inv={phi_inv} (no-miss guarantee needs "
            "capacity >= phi_inv)"
        )
    stored = state.agg(F.sum("mg_count")).first()[0] or 0
    err = (n_total - int(stored)) // (capacity + 1)
    return (
        state.withColumn("count_lower", F.col("mg_count"))
        .withColumn("count_upper", F.col("mg_count") + F.lit(err))
        .withColumn(
            "certain",
            (F.col("count_lower") * phi_inv >= F.lit(n_total)).cast(
                "int"
            ),
        )
        .filter(F.col("count_upper") * phi_inv >= F.lit(n_total))
        .select("key", "count_lower", "count_upper", "certain")
    )
