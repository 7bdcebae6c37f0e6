"""Incrementally-maintained time-bucketed rollup (continuous
aggregate / hypertable-rollup pattern) — beyond the reference, which
recomputes every per-week aggregate from scratch on each run
(R/let_russ_cook.R:197-216 re-queries the whole DB per facet).

The rollup table stores MERGEABLE aggregate state per (time bucket ×
dimension): counts and exact decimal sums (never averages — an avg is
derived at read time as sum/n, because averages don't merge). Refresh
is partition-scoped:

1. Aggregate ONLY the incoming delta (map-side combine, tiny output).
2. Read ONLY the stored buckets the delta touches.
3. Merge state (sum the sums, sum the counts) and rewrite just those
   bucket partitions with dynamic partition overwrite.

Cost scales with delta volume + touched-bucket volume, never with the
full table — the 100 TB history stays untouched when a late week
arrives. Exactly-once on replay is the caller's contract (feed each
batch once, e.g. from foreachBatch with checkpointing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HOUR_NS = 3_600_000_000_000


def aggregate_bucketed(
    events: DataFrame, bucket_ns: int = HOUR_NS
) -> DataFrame:
    """Aggregate an events batch into (bucket_ns, event_type) state."""
    bucket = (F.col("ts_ns") - F.col("ts_ns") % bucket_ns).alias("bucket_ns")
    return (
        events.withColumnRenamed("ts", "ts_ns")
        .groupBy(bucket, "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("sum_value"),
        )
    )


def build_rollup(
    events: DataFrame, out_path: str, bucket_ns: int = HOUR_NS
) -> None:
    """Full (re)build — the bootstrap path, partitioned by bucket."""
    aggregate_bucketed(events, bucket_ns).write.mode(
        "overwrite"
    ).partitionBy("bucket_ns").parquet(out_path)


def _ledger_dir(out_path: str) -> str:
    import os

    return os.path.join(out_path, "_applied_batches")


def refresh_rollup(
    spark: SparkSession,
    delta: DataFrame,
    out_path: str,
    bucket_ns: int = HOUR_NS,
    batch_id: str | None = None,
) -> dict:
    """Merge a delta batch into the stored rollup; touched buckets
    only. Returns {"touched_buckets": n, "replayed": bool}.

    Replay protection: pass a stable ``batch_id`` (foreachBatch's
    batch id, an ingest filename, ...) and a batch that was already
    merged becomes a detectable no-op — a marker is recorded under
    ``_applied_batches/`` after the write commits, and the merge is
    skipped when the marker exists. This closes the ADVICE gap
    (replaying the same delta double-counted silently). The remaining
    window — a crash AFTER the dynamic-partition overwrite commits but
    BEFORE the marker lands — still replays as a double-count; closing
    that needs a transactional table format (Delta/Iceberg commit =
    data + marker in one atomic swap), which plain parquet layouts
    cannot express. Without ``batch_id`` the caller owns exactly-once
    (the previous contract).
    """
    import os

    if batch_id is not None:
        marker = os.path.join(_ledger_dir(out_path), batch_id)
        if os.path.exists(marker):
            return {"touched_buckets": 0, "replayed": True}

    inc = aggregate_bucketed(delta, bucket_ns).localCheckpoint(eager=True)
    touched = [r[0] for r in inc.select("bucket_ns").distinct().collect()]
    if not touched:
        return {"touched_buckets": 0, "replayed": False}

    if not os.path.exists(out_path):
        # bootstrap: first delta against an empty rollup (the
        # streaming-maintenance path starts here)
        inc.write.mode("overwrite").partitionBy("bucket_ns").parquet(out_path)
        if batch_id is not None:
            os.makedirs(_ledger_dir(out_path), exist_ok=True)
            with open(os.path.join(_ledger_dir(out_path), batch_id), "w"):
                pass
        return {"touched_buckets": len(touched), "replayed": False}

    stored = spark.read.parquet(out_path)
    existing = stored.filter(stored["bucket_ns"].isin(touched))
    merged = (
        existing.unionByName(inc)
        .groupBy("bucket_ns", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_value"),
        )
        # the write replaces files this plan reads — cut lineage first
        .localCheckpoint(eager=True)
    )

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("bucket_ns").parquet(
            out_path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    if batch_id is not None:
        os.makedirs(_ledger_dir(out_path), exist_ok=True)
        with open(os.path.join(_ledger_dir(out_path), batch_id), "w"):
            pass
    return {"touched_buckets": len(touched), "replayed": False}


def read_rollup(spark: SparkSession, out_path: str) -> DataFrame:
    """Read-side view deriving non-mergeable metrics (avg) from
    state."""
    r = spark.read.parquet(out_path)
    return r.select(
        "bucket_ns",
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        (F.col("sum_value").cast("double") / F.col("n")).alias("avg_value"),
    )


def _refresh_state_tx(
    spark: SparkSession,
    table,
    inc: DataFrame,
    merge_fn,
    batch_id: str | None,
    meta: dict | None = None,
) -> dict:
    """The shared tx-refresh skeleton every mergeable-state family
    uses (plain sums, co-moments, HLL sketches): replay check →
    aggregate the delta (caller-supplied ``inc``) → touched buckets →
    manifest-pruned read of existing state → caller-supplied merge →
    one atomic commit carrying data + marker. ``merge_fn(unioned)``
    re-aggregates the union of existing and incoming state."""
    base_v = table.latest_version()
    if batch_id is not None and table.is_applied(batch_id, base_v):
        return {"touched_buckets": 0, "replayed": True, "version": base_v}

    inc = inc.localCheckpoint(eager=True)
    touched = {r[0] for r in inc.select("bucket_ns").distinct().collect()}
    if not touched:
        return {"touched_buckets": 0, "replayed": False, "version": base_v}

    existing = table.read(spark, version=base_v, partitions=touched)
    merged = inc if existing is None else merge_fn(existing.unionByName(inc))
    adds = table.stage_files(merged, "bucket_ns")
    v = table.commit(
        adds,
        remove_partitions=touched,
        batch_id=batch_id,
        expected_version=base_v,
        meta=meta,
    )
    return {"touched_buckets": len(touched), "replayed": False, "version": v}


def refresh_rollup_tx(
    spark: SparkSession,
    delta: DataFrame,
    table,
    bucket_ns: int = HOUR_NS,
    batch_id: str | None = None,
) -> dict:
    """Transactional twin of ``refresh_rollup`` over a
    ``jobs.txlog.TxTable``: the merged bucket state and the
    applied-batch marker become visible in ONE manifest swap, closing
    the crash-after-write-before-marker double-count window the plain
    parquet path documents (see module docstring of txlog).

    Also drops two costs the overwrite path pays:
    - no ``localCheckpoint`` on the merge — staged files never replace
      the files the plan reads, so lineage needs no cut;
    - the existing-state read is manifest-pruned to touched buckets
      (file skipping) instead of a full-table scan + filter.
    """
    def merge(unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("bucket_ns", "event_type").agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_value"),
        )

    return _refresh_state_tx(
        spark, table, aggregate_bucketed(delta, bucket_ns), merge, batch_id
    )


def read_rollup_tx(spark: SparkSession, table) -> DataFrame | None:
    """``read_rollup`` over a TxTable snapshot (latest version)."""
    r = table.read(spark)
    if r is None:
        return None
    return r.select(
        "bucket_ns",
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        (F.col("sum_value").cast("double") / F.col("n")).alias("avg_value"),
    )


# ---- co-moment (correlation/covariance) rollup -----------------------------

# Mergeable co-moment state: correlation does not merge, but its
# sufficient statistics do — exact decimal sums of x, y, x², y², xy
# plus the pair count. x/y quantize to DECIMAL(15,6) (both engines
# round the same double to the same decimal — queries/exact.py), so
# products and sums are exact, associative, and order-independent:
# merged state is BIT-IDENTICAL to a one-shot aggregation, and corr /
# cov / means derive at read time. DECIMAL(15,6) inputs keep the
# x*y products inside DECIMAL(31,12) and their sums inside
# DECIMAL(38,12) — overflow would need ~1e7 rows per bucket-dim cell
# with |x·y| at the 1e9 cap; size buckets/dims below that.
_COMOMENT_STATE = ("n", "sum_x", "sum_y", "sum_xx", "sum_yy", "sum_xy")
_CM_DEC = "decimal(15,6)"
# Pinned STORED state types: Spark widens a SUM's decimal precision
# by 10 each aggregation (sum(15,6) → (25,6); summing THAT → (35,6)),
# so without a pin the merge commit's schema would drift from the
# bootstrap commit's and the tx log would (correctly) refuse the
# evolution. First moments pin at (28,6), second moments at (38,12).
_CM_SUM_TYPES = {
    "sum_x": "decimal(28,6)",
    "sum_y": "decimal(28,6)",
    "sum_xx": "decimal(38,12)",
    "sum_yy": "decimal(38,12)",
    "sum_xy": "decimal(38,12)",
}


def _pin_state(df: DataFrame) -> DataFrame:
    return df.select(
        *[c for c in df.columns if c not in _CM_SUM_TYPES],
        *[
            F.col(c).cast(t).alias(c)
            for c, t in _CM_SUM_TYPES.items()
            if c in df.columns
        ],
    )


def aggregate_comoments(
    events: DataFrame,
    x_col: str = "value",
    y_col: str = "user_id",
    bucket_ns: int = HOUR_NS,
) -> DataFrame:
    """Aggregate a batch into per-(bucket, event_type) co-moment
    state. Pairs with a NULL on either side drop entirely (the
    complete-obs contract every corr implementation shares). The
    filter runs on the QUANTIZED columns: a value outside
    DECIMAL(15,6)'s range overflows its cast to NULL under non-ANSI
    Spark, and filtering on the raw column would then count the pair
    in ``n`` while every sum skipped it — silently inconsistent
    state. Dropping the pair keeps n and the sums consistent (and the
    oracle mirrors with TRY_CAST)."""
    bucket = (F.col("ts_ns") - F.col("ts_ns") % bucket_ns).alias("bucket_ns")
    x = F.col(x_col).cast(_CM_DEC)
    y = F.col(y_col).cast(_CM_DEC)
    return _pin_state(
        events.withColumnRenamed("ts", "ts_ns")
        .filter(x.isNotNull() & y.isNotNull())
        .groupBy(bucket, "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("sum_x"),
            F.sum(y).alias("sum_y"),
            F.sum(x * x).alias("sum_xx"),
            F.sum(y * y).alias("sum_yy"),
            F.sum(x * y).alias("sum_xy"),
        )
    )


def refresh_comoments_tx(
    spark: SparkSession,
    delta: DataFrame,
    table,
    x_col: str = "value",
    y_col: str = "user_id",
    bucket_ns: int = HOUR_NS,
    batch_id: str | None = None,
) -> dict:
    """Merge a delta batch's co-moment state into a TxTable —
    touched buckets only, atomically with the applied-batch marker
    (the ``refresh_rollup_tx`` contract; see that docstring for the
    crash-window reasoning)."""
    def merge(unioned: DataFrame) -> DataFrame:
        return _pin_state(
            unioned.groupBy("bucket_ns", "event_type").agg(
                *[F.sum(c).alias(c) for c in _COMOMENT_STATE]
            )
        )

    return _refresh_state_tx(
        spark,
        table,
        aggregate_comoments(delta, x_col, y_col, bucket_ns),
        merge,
        batch_id,
    )


def derive_comoments(state: DataFrame) -> DataFrame:
    """Read-side derivation of the non-mergeable metrics from
    co-moment state: means, population covariance, Pearson
    correlation. The state is exact decimal; the derivation runs in
    double (the ~1e-12 class where floats are safe — queries/exact.py
    rationale). Zero variance on either side → NULL corr (SQL corr /
    R complete-obs convention for a degenerate column)."""
    n = F.col("n").cast("double")
    sx = F.col("sum_x").cast("double")
    sy = F.col("sum_y").cast("double")
    sxx = F.col("sum_xx").cast("double")
    syy = F.col("sum_yy").cast("double")
    sxy = F.col("sum_xy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = (sxy - sx * sy / n) / n
    corr = F.when(
        (vx > 0) & (vy > 0),
        (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return state.select(
        *[c for c in state.columns if c in ("bucket_ns", "event_type")],
        "n",
        (sx / n).alias("mean_x"),
        (sy / n).alias("mean_y"),
        cov.alias("cov_pop"),
        corr.alias("corr"),
    )


# ---- distinct-count (HLL sketch) rollup ------------------------------------

# Mergeable distinct-count state: exact COUNT(DISTINCT) does not
# merge (cells double-count shared keys), but a DataSketches HLL
# sketch does — union takes the register-wise max, so a union of
# per-batch sketches yields the IDENTICAL ESTIMATE to a one-shot
# sketch over the same rows (serialized bytes may differ in
# compaction mode; the contract is estimate-equality, tested).
# lg_k=12 → ~1.6% relative standard error, 2^12 registers per cell.
_HLL_LG_K = 12


def aggregate_distinct_sketch(
    events: DataFrame,
    key_col: str = "user_id",
    bucket_ns: int = HOUR_NS,
    lg_k: int = _HLL_LG_K,
) -> DataFrame:
    """Aggregate a batch into per-(bucket, event_type) HLL state:
    row count + the distinct-key sketch (BINARY — schema-stable
    across merges, unlike widening decimals)."""
    bucket = (F.col("ts_ns") - F.col("ts_ns") % bucket_ns).alias("bucket_ns")
    return (
        events.withColumnRenamed("ts", "ts_ns")
        .filter(F.col(key_col).isNotNull())
        .groupBy(bucket, "event_type")
        .agg(
            F.count("*").alias("n"),
            F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch"),
        )
    )


def refresh_distinct_rollup_tx(
    spark: SparkSession,
    delta: DataFrame,
    table,
    key_col: str = "user_id",
    bucket_ns: int = HOUR_NS,
    lg_k: int = _HLL_LG_K,
    batch_id: str | None = None,
) -> dict:
    """Merge a delta batch's distinct-count sketches into a TxTable —
    touched buckets only, atomic with the applied-batch marker (the
    refresh_rollup_tx contract). Merge = hll_union_agg: lossless on
    the registers, so incremental maintenance never drifts from a
    full recompute's estimate.

    ``lg_k`` is a TABLE property, not a per-call knob: sketches of
    different register widths cannot union (Spark raises
    HLL_UNION_DIFFERENT_LG_K deep in the merge job), so the bootstrap
    commit stamps the value in the manifest meta and every later
    refresh validates against the stamp BEFORE doing any work —
    changing lg_k means rebuilding the table."""
    stamped = table.meta().get("hll_lg_k")
    if stamped is not None and int(stamped) != lg_k:
        raise ValueError(
            f"lg_k={lg_k} does not match the table's stamped "
            f"hll_lg_k={stamped}; HLL register widths cannot union — "
            "rebuild the table to change lg_k"
        )
    def merge(unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("bucket_ns", "event_type").agg(
            F.sum("n").alias("n"),
            F.hll_union_agg("sketch").alias("sketch"),
        )

    return _refresh_state_tx(
        spark,
        table,
        aggregate_distinct_sketch(delta, key_col, bucket_ns, lg_k),
        merge,
        batch_id,
        meta={"hll_lg_k": lg_k},
    )


def derive_distinct_counts(state: DataFrame) -> DataFrame:
    """Read-side estimates from HLL state: distinct keys per cell
    (and per any coarser regrouping — union the sketches first,
    which is exactly what a caller rolling hours up to days does)."""
    return state.select(
        "bucket_ns",
        "event_type",
        "n",
        F.round(F.hll_sketch_estimate("sketch"))
        .cast("long")
        .alias("distinct_keys"),
    )
