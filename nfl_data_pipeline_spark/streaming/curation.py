"""Full incremental curation: the funnel's stateless + exact-dedup
gates (streaming/funnel.py) chained with the near-duplicate gate
(streaming/neardup.py), all over tx state — the complete
"new crawl shard in, curated docs out" batch step.

Composition contract: ``process_funnel_batch`` runs first (merging
vocab/fingerprints/counts), then the funnel SURVIVORS — recomputed as
a pure function of (docs, post-merge state), which is replay-stable
because the prefix LM and the fingerprint registry already contain
the batch after its merges — feed the near-dup gate, and the
per-source near-dup survivor count merges into its own counts table,
and — when ``track_frequent`` is on — the kept docs' word n-grams
fold into the merged-MG frequent-items state (the boilerplate/spam
motif monitor, streaming/frequent.py; it overlaps the other
accounting merges — all three are independent tables with their own
batch markers). A crash at any point replays idempotently: each
sub-state carries the batch id, and the survivor recomputation
yields the same rows whether the batch is being applied or replayed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.jobs.txlog import TxTable, merge_grouped_sums
from nfl_data_pipeline_spark.streaming.funnel import (
    FunnelState,
    gate_flags,
    process_funnel_batch,
)
from nfl_data_pipeline_spark.streaming.neardup import (
    NearDupState,
    process_neardup_batch,
)


class CurationState:
    def __init__(
        self,
        root: str,
        track_frequent: bool = False,
        frequent_capacity: int = 10_000,
        frequent_ngram: int = 5,
        **funnel_kw,
    ):
        self.funnel = FunnelState(os.path.join(root, "funnel"), **funnel_kw)
        self.neardup = NearDupState(os.path.join(root, "neardup"))
        self.near_counts = TxTable(os.path.join(root, "near_counts"))
        # kept-doc token-length histogram (mergeable buckets): the
        # "p95 length of what we actually kept" drift monitor,
        # maintained O(batch) like every other state here
        self.len_hist = TxTable(os.path.join(root, "len_hist"))
        # optional frequent-items stage: merged-MG sketch over the
        # kept docs' word n-grams (boilerplate/spam motif monitor) —
        # an ordered commit in the chain when track_frequent is on
        self.track_frequent = track_frequent
        self.frequent_capacity = frequent_capacity
        self.frequent_ngram = frequent_ngram
        self.frequent = TxTable(os.path.join(root, "frequent"))


def funnel_survivors(
    spark: SparkSession, docs: DataFrame, state: FunnelState
) -> DataFrame:
    """Docs passing every funnel gate, as a PURE read of the current
    state (no mutation): stateless gates are functions of the row;
    the ppl gate scores under the maintained LM (which, post-merge,
    contains the batch — the same prefix it was originally scored
    under); the dedup gate probes the registry (whose stored winner
    is the batch winner's own id). Idempotent under replay. The gate
    frame itself is funnel.gate_flags — the ONE definition shared
    with the batch path, so the replay verdicts cannot drift from the
    originals (r7 code review: the previous inlined copy had to be
    edited in lockstep with process_funnel_batch or the kept corpus
    desynched from the counts)."""
    flagged = gate_flags(spark, docs, state)
    return _surviving_docs(docs, flagged)


def _surviving_docs(docs: DataFrame, flagged: DataFrame) -> DataFrame:
    cond = (
        (F.col("pass_url") == 1)
        & (F.col("pass_lang") == 1)
        & (F.col("pass_quality") == 1)
        & (F.col("pass_ppl") == 1)
        & (F.col("pass_dedup") == 1)
    )
    # the optional repetition stage rides the gate frame as pass_rep
    # (use_repetition=True); it must gate the KEPT docs exactly as it
    # gates the counts (funnel_counts_agg threads pass_rep into
    # n_ppl/n_final), or the curated corpus and the counts table
    # permanently disagree
    if "pass_rep" in flagged.columns:
        cond = cond & (F.col("pass_rep") == 1)
    # same rule for the optional bigram-perplexity stage (use_bigram)
    if "pass_big" in flagged.columns:
        cond = cond & (F.col("pass_big") == 1)
    ids = flagged.filter(cond).select("doc_id")
    # funnel_base keeps evidence columns only; rejoin for the text
    return docs.select("doc_id", "source", "text").join(ids, "doc_id")


def process_curation_batch(
    spark: SparkSession,
    docs: DataFrame,
    state: CurationState,
    batch_id: str,
    neardup_threshold: float = 0.5,
) -> DataFrame:
    """One shard through the whole curation chain. Returns the final
    kept docs ``(doc_id, source, text)``."""
    flagged = process_funnel_batch(spark, docs, state.funnel, batch_id)
    if flagged is not None:
        # reuse the funnel's own checkpointed gate frame — the gates
        # are computed exactly once per batch
        survivors = _surviving_docs(docs, flagged)
    else:
        # whole-batch replay: recompute as a pure read of the
        # post-merge state (same verdicts, see funnel_survivors)
        survivors = funnel_survivors(spark, docs, state.funnel)
    # LAZY checkpoint (r13): the neardup gate's bands materialization
    # is the first consumer and pins it — one fewer standalone job;
    # all consumers (bands, kept) run sequentially on this thread
    survivors = survivors.localCheckpoint(eager=False)
    verdicts = process_neardup_batch(
        spark, survivors, state.neardup, batch_id, neardup_threshold
    )
    kept = survivors.join(
        verdicts.filter(F.col("keep") == 1).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=True)
    from concurrent.futures import ThreadPoolExecutor

    from nfl_data_pipeline_spark.streaming.frequent import (
        update_frequent_state,
    )

    # the accounting merges are independent tables with independent
    # replay markers; each is internally atomic, and a crash leaving
    # any subset committed replays to convergence because every
    # commit carries the batch id. The frequent fold (the heaviest:
    # an exact n-gram count over kept text, one native aggregate)
    # overlaps the count/histogram accounting, which since r13 is
    # ONE bounded collect: the per-(source, bucket) histogram delta
    # determines the per-source near-dup survivor count too (every
    # kept doc falls in exactly one bucket; NULL-length docs ride a
    # NULL-bucket row that the histogram merge excludes), so both
    # tables merge from the same driver rows with zero further Spark
    # jobs on the metadata-sized path.
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = (
            pool.submit(
                update_frequent_state,
                spark,
                _kept_ngrams(kept, state.frequent_ngram),
                "g",
                state.frequent,
                batch_id,
                capacity=state.frequent_capacity,
            )
            if state.track_frequent
            else None
        )
        _merge_curation_accounting(spark, kept, state, batch_id)
        if fut is not None:
            fut.result()
    return kept


def _merge_curation_accounting(
    spark: SparkSession,
    kept: DataFrame,
    state: CurationState,
    batch_id: str,
    small_rows: int = 20_000,
) -> None:
    """Merge the near-dup survivor counts AND the kept-length
    histogram from one bounded collect of the per-(source, bucket)
    delta (r13 — two delta aggregations were two Spark jobs for the
    same information). Bucketing goes through the ONE shared
    definition (``sketches.sp_len_bucket``, the expression
    ``histogram_counts`` wraps); a NULL token length yields a NULL
    bucket row that counts toward the survivor total but is excluded
    from the histogram exactly as ``histogram_counts`` excludes it.
    Deltas past the bound fall back to the two independent merges
    (their prepare paths handle any size)."""
    from pyspark.sql import types as T

    from nfl_data_pipeline_spark.jobs.txlog import merge_grouped_sums_rows
    from nfl_data_pipeline_spark.operators.sketches import (
        check_hist_scheme,
        sp_len_bucket,
    )
    from nfl_data_pipeline_spark.streaming.stats import (
        update_histogram_state,
    )

    near_applied = state.near_counts.is_applied(batch_id)
    hist_applied = state.len_hist.is_applied(batch_id)
    if near_applied and hist_applied:
        return
    hist_meta = check_hist_scheme(state.len_hist)
    nt = F.size(F.split("text", " ")).cast("long")
    delta_all = (
        kept.select("source", nt.alias("nt"))
        .select("source", F.expr(sp_len_bucket("nt")).alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("_part", F.col("source"))
    )
    head = delta_all.limit(small_rows + 1).collect()
    if len(head) > small_rows:  # not metadata-sized: independent merges
        if not near_applied:
            merge_grouped_sums(
                spark,
                kept.groupBy("source")
                .agg(F.count("*").cast("long").alias("n_neardup"))
                .withColumn("_part", F.col("source")),
                state.near_counts,
                ["source"],
                ["n_neardup"],
                "_part",
                batch_id,
            )
        if not hist_applied:
            update_histogram_state(
                spark,
                kept.select("source", nt.alias("nt")),
                state.len_hist,
                ["source"],
                "nt",
                batch_id,
            )
        return
    rows = [r.asDict() for r in head]
    src_t = kept.schema["source"].dataType
    if not near_applied:
        near: dict = {}
        for r in rows:
            near[r["source"]] = near.get(r["source"], 0) + r["n"]
        merge_grouped_sums_rows(
            spark,
            [
                {"source": s, "n_neardup": n, "_part": s}
                for s, n in near.items()
            ],
            T.StructType(
                [
                    T.StructField("source", src_t),
                    T.StructField("n_neardup", T.LongType()),
                    T.StructField("_part", src_t),
                ]
            ),
            state.near_counts,
            ["source"],
            ["n_neardup"],
            "_part",
            batch_id,
        )
    if not hist_applied:
        merge_grouped_sums_rows(
            spark,
            [r for r in rows if r["bucket"] is not None],
            T.StructType(
                [
                    T.StructField("source", src_t),
                    T.StructField("bucket", T.LongType()),
                    T.StructField("n", T.LongType()),
                    T.StructField("_part", src_t),
                ]
            ),
            state.len_hist,
            ["source", "bucket"],
            ["n"],
            "_part",
            batch_id,
            meta=hist_meta,
        )


def _kept_ngrams(kept: DataFrame, n: int) -> DataFrame:
    """Word n-grams of the kept docs, one row per gram — the SAME
    composition the batch heavy-hitter operator uses
    (operators/text.word_ngram_rows), so the streaming twin can never
    diverge on tokenization."""
    from nfl_data_pipeline_spark.operators.text import word_ngram_rows

    return word_ngram_rows(kept, n, out_col="g")


def read_frequent_ngrams(
    spark: SparkSession, state: CurationState, phi_inv: int | None = None
):
    """Heavy-hitter report over everything KEPT so far: ``(key,
    count_lower, count_upper, certain)`` per
    streaming/frequent.read_frequent_state — None until the stage has
    committed a batch (always None with the stage off), an empty
    report once it has but no key clears the threshold."""
    from nfl_data_pipeline_spark.streaming.frequent import (
        read_frequent_state,
    )

    return read_frequent_state(
        spark,
        state.frequent,
        phi_inv=phi_inv or state.frequent_capacity,
    )


def read_curation_counts(spark: SparkSession, state: CurationState):
    """Funnel stage counts joined with the near-dup survivor count —
    the full monotone curation report."""
    from nfl_data_pipeline_spark.streaming.funnel import read_funnel_counts

    base = read_funnel_counts(spark, state.funnel)
    nd = state.near_counts.read(spark)
    if nd is None:
        out = base.withColumn("n_neardup", F.lit(0).cast("long"))
    else:
        out = base.join(
            nd.select("source", "n_neardup"), "source", "left"
        ).fillna(0, subset=["n_neardup"])
    # one row per source: sort the report in one partition — a global
    # orderBy pays a range-sampling job and an exchange for ~20 rows
    return out.coalesce(1).sortWithinPartitions("source")


def read_kept_length_quantiles(
    spark: SparkSession, state: CurationState, probs=(0.5, 0.95, 0.99)
):
    """Per-source token-length quantiles of everything KEPT so far,
    served from the maintained histogram — O(state), no corpus
    re-scan (streaming/stats.py)."""
    from nfl_data_pipeline_spark.streaming.stats import read_quantile_state

    return read_quantile_state(spark, state.len_hist, ["source"], probs)


def curation_maintenance_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    state: CurationState,
    checkpoint_dir: str,
):
    """Wire the composed curation chain into a document stream
    (availableNow file-source replay semantics, mirroring
    funnel.funnel_maintenance_stream). Each micro-batch id becomes
    the tx batch id for every sub-state, so engine replays after a
    crash converge exactly (see process_curation_batch)."""

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        process_curation_batch(spark, batch_df, state, f"curation-{batch_id}")

    return (
        docs_stream.writeStream.foreachBatch(_step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def maintain_curation_state(
    spark: SparkSession,
    state: CurationState,
    min_files: int = 8,
    retain_versions: int = 2,
    forget_queue=None,
    grace_s: float = 300.0,
) -> dict:
    """One maintenance pass over EVERY table the composed step
    touches: the funnel's three tables, the near-dup gate's
    signature/sids registries, and the two local merge tables.
    Between-batches safe for the same
    reason each underlying compact is: identical rows, new layout,
    markers and meta carried forward.

    ``forget_queue`` (a jobs/forget.ForgetQueue) drains FIRST, so
    queued right-to-be-forgotten ids purge on the maintenance cadence
    and the subsequent compaction immediately reclaims the space
    over the purged rows."""
    from nfl_data_pipeline_spark.operators.dedup import maintain_gate_state
    from nfl_data_pipeline_spark.streaming.funnel import (
        maintain_funnel_state,
    )

    out = {}
    if forget_queue is not None:
        out["forget"] = forget_queue.drain_into_curation(spark, state)
    out["funnel"] = maintain_funnel_state(
        spark, state.funnel, min_files, retain_versions, grace_s=grace_s
    )
    out["neardup"] = maintain_gate_state(
        spark, state.neardup, min_files, retain_versions, grace_s=grace_s
    )
    for name, table in (
        ("near_counts", state.near_counts),
        ("len_hist", state.len_hist),
    ):
        compacted = table.compact(
            spark, min_files=min_files, partition_col="_part"
        )
        deleted = table.vacuum(
            retain_versions=retain_versions, grace_s=grace_s
        )
        out[name] = {"compacted": compacted, "deleted_files": deleted}
    if state.frequent.latest_version() is not None:
        # the frequent state rewrites its single partition per commit
        # (file count stays O(1)); only stale versions need reaping
        out["frequent"] = {
            "compacted": 0,
            "deleted_files": state.frequent.vacuum(
                retain_versions=retain_versions, grace_s=grace_s
            ),
        }
    return out
