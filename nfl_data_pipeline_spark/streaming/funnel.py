"""Incremental curation funnel (ROADMAP #5): the batch
``curation_funnel`` query re-derives every corpus statistic from
scratch each run; this module maintains those statistics in
transactional state tables (jobs/txlog.TxTable) and refreshes them
per micro-batch inside ``foreachBatch`` — so an arriving shard of
documents costs O(shard + touched state), never O(corpus).

State tables under one root:

- ``vocab``      — (term, c) unigram counts, hash-bucketed. Mergeable
                   sums: refresh rewrites only touched buckets (the
                   rollup pattern with term keys).
- ``fingerprints`` — (fp, doc_id) first-seen exact-dedup registry,
                   hash-bucketed, append-only commits (no rewrites).
- ``counts``     — per-source funnel survivor counts, mergeable sums
                   partitioned by source.

Gate semantics vs the batch twin:

- URL / language / quality gates are stateless → identical.
- The exact-dedup gate is first-arrival-wins across batches (equal to
  the batch twin's first-doc_id-wins whenever batches arrive in
  doc_id order — the replay/backfill layout).
- The perplexity gate is **prefix-consistent**: each batch is scored
  under the LM of everything ingested so far *including itself* (its
  token counts merge before scoring). A single batch over the whole
  corpus is therefore EXACTLY the batch query; across many batches
  early docs see a younger LM — that is the honest contract of any
  streaming quality filter, and the maintained vocab lets a final
  re-score run against the full-corpus LM without re-aggregating it
  (``rescore_with_final_lm``).

Exactly-once: every state table carries the micro-batch id in its
manifest (txlog's atomic data+marker swap), and the ``counts`` commit
is LAST — so ``counts.is_applied(bid)`` means the whole batch landed,
and a crash between table commits replays idempotently: already-
committed tables skip, the rest apply, and the perplexity/dedup gates
recompute to the same values because their state already contains the
batch (vocab: merged counts; fingerprints: the stored winner doc_id
equals the batch winner's own id).

Scale: per batch the vocab rewrite is O(|vocab|) across _NB buckets
(independent of corpus size; raise _NB or adopt an LSM-style partial
merge when the vocabulary itself is huge), fingerprints grow
append-only, and counts stay at #sources rows. The dedup gate's
registry probe is one plain left join: it was measured faster than a
prefiltered probe at every registry size tried, 1M-32M fps
(SCALING.md §"Funnel registry probe").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.hints import gated_broadcast
from nfl_data_pipeline_spark.jobs.txlog import (
    TxTable,
    commit_grouped_sums,
    merge_grouped_sums,
    prepare_grouped_sums,
)

_NB = 16  # state hash buckets (vocab + fingerprints)


class FunnelState:
    """The three state tables of one incremental funnel (plus the
    optional bigram LM tables). The fingerprint registry is probed with
    a plain left join (``registry_probe``; SCALING.md §"Funnel registry
    probe" is why there is no prefilter)."""

    id_col = "doc_id"

    def __init__(
        self,
        root: str,
        use_repetition: bool = False,
        use_bigram: bool = False,
    ):
        self.vocab = TxTable(os.path.join(root, "vocab"))
        self.fps = TxTable(os.path.join(root, "fingerprints"))
        self.counts = TxTable(os.path.join(root, "counts"))
        # the per-doc registry jobs/forget.forget_docs purges
        self.registries = (("fingerprints", self.fps, ""),)
        # optional order-2 perplexity gate (r11, VERDICT r10 missing
        # #1): mergeable bigram/context count tables behind the
        # funnel, scored prefix-consistently like the unigram ppl
        # gate. V for the add-k smoothing is the funnel's OWN vocab
        # row count — the same prefix the unigram gate reads, so the
        # two LM gates always see one corpus state. Same
        # pick-at-creation rule as use_repetition (mixed-meaning
        # n_final history otherwise).
        self.use_bigram = use_bigram
        if use_bigram:
            self.bigrams = TxTable(os.path.join(root, "bigrams"))
            self.contexts = TxTable(os.path.join(root, "contexts"))
        # optional Gopher-rule repetition stage (queries/llmprep.py
        # repetition_stats), OFF by default — it is stateless, so the
        # only cost is one extra posting-list pass per batch. Pick at
        # funnel creation and keep it: toggling mid-table would leave
        # the counts table with mixed-meaning n_final history (and a
        # pre-repetition table has no n_rep column to merge into).
        self.use_repetition = use_repetition


def _bucket(col: str):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(_NB)).cast("long")


def _vocab_delta(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("bucket", _bucket("term"))
    )


def _xent_vs_vocab(
    docs: DataFrame, vocab: DataFrame, vocab_rows: int | None = None
) -> DataFrame:
    """Per-doc cross-entropy under the GIVEN vocabulary (broadcast) —
    the unigram_logprob shape with the LM supplied externally.

    ``vocab_rows``: exact row count when the caller already holds it
    (the state table's manifest footer counts — ``fast_stats``), so
    the broadcast gate costs no count job (r13); None falls back to
    the counting gate."""
    from nfl_data_pipeline_spark.operators.hints import (
        metadata_gated_broadcast,
    )

    dt = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("k"))
    )
    tot = vocab.agg(F.sum("c").cast("double").alias("n"))
    # vocab is a TERM table — Heaps-law growth with the corpus, so
    # the broadcast is size-gated (state-table rescan is cheap);
    # tot is one row
    if vocab_rows is not None:
        v = metadata_gated_broadcast(
            vocab, vocab_rows, site="funnel.py:vocab-attach"
        )
    else:
        v = gated_broadcast(vocab)
    return (
        dt.join(v, "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            (
                -F.sum(F.col("k") * F.log(F.col("c") / F.col("n")))
                / F.sum("k")
            ).alias("x")
        )
    )


def registry_probe(
    spark: SparkSession, state: FunnelState, batch: DataFrame
) -> DataFrame:
    """Left-join ``batch`` (columns incl. ``fp``) against the
    fingerprint registry, adding ``first_doc`` (the stored winner's
    doc_id, null if the fp is new) — the heart of the dedup gate. AQE
    broadcasts the registry while it is small and shuffles it past
    that."""
    stored = state.fps.read(spark)
    if stored is None:
        from nfl_data_pipeline_spark.operators.localframe import (
            empty_frame,
        )

        stored = empty_frame(spark, "fp string, first_doc long")
    else:
        stored = stored.select("fp", F.col("doc_id").alias("first_doc"))
    return batch.join(stored, "fp", "left")


def _read_vocab(spark: SparkSession, state: "FunnelState") -> DataFrame:
    """Current LM counts; empty-schema frame when no vocabulary has
    ever been committed (an all-empty first batch must not crash the
    stream)."""
    v = state.vocab.read(spark)
    if v is None:
        from nfl_data_pipeline_spark.operators.localframe import (
            empty_frame,
        )

        return empty_frame(spark, "term string, c long")
    return v.select("term", "c")


def gate_flags(
    spark: SparkSession, docs: DataFrame, state: "FunnelState"
) -> DataFrame:
    """Every per-doc gate flag for ``docs`` against the CURRENT state
    — THE single definition of the gate frame, shared by the batch
    path (``process_funnel_batch``, which merges the vocab delta
    first) and the pure-read replay path
    (``streaming/curation.funnel_survivors``). The two paths must
    compute bit-identical verdicts, so neither may carry its own
    copy: a gate added to one and not the other silently desynchs the
    kept corpus from the counts table (the r7 repetition-stage bug
    class)."""
    from pyspark.sql import Window

    from nfl_data_pipeline_spark.queries.llmprep import (
        _XENT_CUT,
        funnel_base,
        repetition_stats,
        stateless_flags,
    )

    vocab = _read_vocab(spark, state)
    # exact vocab row count from the manifest footer stats — the
    # broadcast gate then costs zero jobs (None = legacy files
    # without footer counts → counting gate)
    vocab_rows = state.vocab.fast_stats()["rows"]

    # evidence + stateless gates + prefix-consistent ppl gate
    flagged = stateless_flags(
        funnel_base(docs).join(
            _xent_vs_vocab(docs, vocab, vocab_rows), "doc_id"
        )
    ).withColumn(
        "pass_ppl", F.when(F.col("x") <= _XENT_CUT, 1).otherwise(0)
    )

    # optional stateless repetition stage (Gopher-rule family) —
    # scored with the batch query's exact expressions; replay-safe
    # for free because it is a pure function of the batch. Scored
    # over the WHOLE batch: restricting it to early-gate survivors
    # (flag is inert for failed docs) was measured SLOWER at fixture
    # pass rates — the survivor semi-join costs more than the saved
    # aggregation (SCALING.md "repetition stage cost": ~1.11× whole
    # batch vs ~1.22× scoped, interleaved A/B). Revisit only for
    # corpora where most docs fail the early gates.
    if state.use_repetition:
        rep = repetition_stats(docs).select(
            "doc_id",
            (1 - F.col("repetitive")).alias("pass_rep"),
        )
        flagged = flagged.join(rep, "doc_id", "left").fillna(
            {"pass_rep": 1}
        )

    # optional order-2 perplexity gate against the maintained bigram
    # LM (prefix-consistent: process_funnel_batch merges the batch's
    # bigram/context deltas before calling here, same contract as the
    # unigram ppl gate). Docs with no bigrams (under 2 tokens) carry
    # no order-2 evidence and pass — the quality gate already owns
    # the length rule.
    if state.use_bigram:
        from nfl_data_pipeline_spark.queries.llmprep import (
            _BIGRAM_XENT_CUT,
            bigram_pairs,
        )
        from nfl_data_pipeline_spark.streaming.bigramlm import (
            score_pairs_against,
        )

        bg = state.bigrams.read(spark)
        cg = state.contexts.read(spark)
        if bg is None or cg is None:
            flagged = flagged.withColumn("pass_big", F.lit(1))
        else:
            v = vocab.agg(F.count("*").cast("double").alias("v"))
            sc = score_pairs_against(
                bigram_pairs(docs),
                bg.select("prev", "term", "bc"),
                cg.select("prev", "cc"),
                v,
            ).select("doc_id", F.col("xent_nats").alias("_bx"))
            flagged = (
                flagged.join(sc, "doc_id", "left")
                .withColumn(
                    "pass_big",
                    F.when(
                        F.col("_bx").isNull()
                        | (F.col("_bx") <= _BIGRAM_XENT_CUT),
                        1,
                    ).otherwise(0),
                )
                .drop("_bx")
            )

    # exact-dedup gate against the fingerprint registry
    wdup = Window.partitionBy("fp").orderBy("doc_id")
    flagged = flagged.withColumn("_rn", F.row_number().over(wdup))
    flagged = registry_probe(spark, state, flagged)
    flagged = flagged.withColumn(
        "pass_dedup",
        F.when(
            F.col("first_doc").isNotNull(),
            # replay: this doc was the recorded winner
            F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0),
        ).otherwise(F.when(F.col("_rn") == 1, 1).otherwise(0)),
    )
    return flagged


def process_funnel_batch(
    spark: SparkSession, docs: DataFrame, state: FunnelState, batch_id: str
) -> DataFrame | None:
    """One micro-batch through every gate, refreshing all three state
    tables. Safe to replay with the same ``batch_id`` at any crash
    point (see module docstring). Returns the checkpointed per-doc
    gate frame (None for a detected whole-batch replay) so callers
    composing further gates (streaming/curation.py) don't recompute
    them."""
    from nfl_data_pipeline_spark.queries.llmprep import funnel_counts_agg

    if state.counts.is_applied(batch_id):
        return None  # counts commit is last → whole batch already landed
    # consumed by 4 branches; LAZY checkpoint (r13): the first
    # consumer (the vocab-delta collect, whose aggregation scans
    # every partition) materializes it — one fewer standalone job,
    # same pin for every later consumer, and all consumers run
    # sequentially on this thread before the staging pool starts
    docs = docs.localCheckpoint(eager=False)

    # 1. merge this batch's token counts; gate_flags then reads the
    # cumulative (prefix-consistent) LM
    merge_grouped_sums(
        spark, _vocab_delta(docs), state.vocab, ["term"], ["c"], "bucket",
        batch_id,
    )
    # 1b. the bigram gate's count tables, same prefix contract (the
    # batch's own pairs merge before scoring); commit order stays
    # vocab → bigrams → contexts → fps → counts, counts last
    if state.use_bigram:
        from nfl_data_pipeline_spark.queries.llmprep import bigram_pairs
        from nfl_data_pipeline_spark.streaming.bigramlm import (
            _bigram_delta,
            _context_delta,
        )

        pairs = bigram_pairs(docs).localCheckpoint(eager=True)
        merge_grouped_sums(
            spark, _bigram_delta(pairs), state.bigrams, ["prev", "term"],
            ["bc"], "bucket", batch_id,
        )
        merge_grouped_sums(
            spark, _context_delta(pairs), state.contexts, ["prev"],
            ["cc"], "bucket", batch_id,
        )

    # 2+3. the shared gate frame (stateless + ppl + optional
    # repetition + registry dedup), pinned before state mutates
    flagged = gate_flags(spark, docs, state)
    flagged = flagged.localCheckpoint(eager=True)

    # 4+5. register this batch's new fingerprints, then merge the
    # survivor counts LAST (the batch-completion marker). The COMMITS
    # must publish in that order — counts applied with fps missing
    # would make a replay skip the whole batch and lose fingerprints
    # forever — but the expensive STAGING of both tables is invisible
    # until commit, so it runs concurrently.
    from concurrent.futures import ThreadPoolExecutor

    fps_adds = None
    do_fps = not state.fps.is_applied(batch_id)
    delta = funnel_counts_agg(
        flagged,
        with_repetition=state.use_repetition,
        with_bigram=state.use_bigram,
    ).withColumn("src_part", F.col("source"))
    count_cols = ["n_input", "n_url", "n_lang", "n_quality", "n_ppl",
                  "n_final"]
    if state.use_repetition:
        count_cols.append("n_rep")
    if state.use_bigram:
        count_cols.append("n_big")
    with ThreadPoolExecutor(max_workers=2) as pool:
        if do_fps:
            new_fps = (
                flagged.filter(
                    F.col("first_doc").isNull() & (F.col("_rn") == 1)
                )
                .select("fp", "doc_id")
                .withColumn("bucket", _bucket("fp"))
            )
            # stage_files_auto: fingerprints deltas carry only this
            # batch's first-seen docs — driver-sized on incremental
            # batches (r12; same bound + telemetry as the neardup
            # registry appends), distributed past 20k rows unchanged
            fps_adds = pool.submit(
                state.fps.stage_files_auto, new_fps, "bucket",
                site="funnel.py:fps-append",
            )
        counts_prep = pool.submit(
            prepare_grouped_sums,
            spark,
            delta,
            state.counts,
            ["source"],
            count_cols,
            "src_part",
            batch_id,
        )
    if do_fps:
        state.fps.commit(fps_adds.result(), batch_id=batch_id)
    prep = counts_prep.result()
    if prep not in (True, False):
        commit_grouped_sums(state.counts, prep, batch_id)
    return flagged


def funnel_maintenance_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    state: FunnelState,
    checkpoint_dir: str,
):
    """Wire the incremental funnel into a document stream
    (availableNow file-source replay semantics, same as the other
    maintenance streams in streaming/ingest.py)."""

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        process_funnel_batch(spark, batch_df, state, f"funnel-{batch_id}")

    return (
        docs_stream.writeStream.foreachBatch(_step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def maintain_funnel_state(
    spark: SparkSession,
    state: FunnelState,
    min_files: int = 8,
    retain_versions: int = 2,
    grace_s: float = 300.0,
) -> dict:
    """Periodic table maintenance for a long-running funnel: every
    batch adds one file per touched bucket (vocab, fingerprints) or
    source (counts), so file counts grow linearly with batch count —
    the classic streaming small-file problem. Compact each state
    table back toward one file per partition once ``min_files``
    accumulate, then vacuum versions beyond ``retain_versions``.

    Safe at any point between batches: compaction is a pure metadata
    transaction (identical rows, new layout) and replay markers
    survive — asserted by the maintenance test. Returns per-table
    compacted-partition and deleted-file counts."""
    out = {}
    tables = [
        ("vocab", state.vocab, "bucket"),
        ("fingerprints", state.fps, "bucket"),
        ("counts", state.counts, "src_part"),
    ]
    if state.use_bigram:
        tables += [
            ("bigrams", state.bigrams, "bucket"),
            ("contexts", state.contexts, "bucket"),
        ]
    for name, table, pcol in tables:
        compacted = table.compact(
            spark, min_files=min_files, partition_col=pcol
        )
        deleted = table.vacuum(
            retain_versions=retain_versions, grace_s=grace_s
        )
        out[name] = {"compacted": compacted, "deleted_files": deleted}
    return out


def read_funnel_counts(spark: SparkSession, state: FunnelState) -> DataFrame:
    """Current per-source survivor counts (plus ``n_rep`` for a
    funnel running the repetition stage)."""
    df = state.counts.read(spark)
    if df is None:
        # the empty frame must carry the same schema a committed
        # counts table would — incl. n_rep for a repetition-stage
        # funnel polled before its first batch lands
        schema = (
            "source string, n_input long, n_url long, n_lang long,"
            " n_quality long, n_ppl long, n_final long"
        )
        if state.use_repetition:
            schema += ", n_rep long"
        if state.use_bigram:
            schema += ", n_big long"
        from nfl_data_pipeline_spark.operators.localframe import (
            empty_frame,
        )

        return empty_frame(spark, schema)
    cols = ["source", "n_input", "n_url", "n_lang", "n_quality",
            "n_ppl", "n_final"]
    if "n_rep" in df.columns:
        cols.append("n_rep")
    if "n_big" in df.columns:
        cols.append("n_big")
    return df.select(*cols).orderBy("source")


def rescore_with_final_lm(
    spark: SparkSession, docs: DataFrame, state: FunnelState
) -> DataFrame:
    """Re-derive per-doc cross-entropy under the FULL maintained LM
    without re-aggregating the corpus — the 'stats refresh' read path:
    the vocabulary is served from state, so this costs one pass over
    ``docs``, not two."""
    vocab = state.vocab.read(spark).select("term", "c")
    return _xent_vs_vocab(docs, vocab, state.vocab.fast_stats()["rows"])


def rescore_with_final_bigram_lm(
    spark: SparkSession, docs: DataFrame, state: FunnelState
) -> DataFrame:
    """Order-2 analog of ``rescore_with_final_lm`` for a use_bigram
    funnel: score ``docs`` under the FULL maintained bigram LM
    (early batches saw a younger prefix). Same fold as the batch
    ``bigram_logprob`` via the shared scoring core."""
    from nfl_data_pipeline_spark.queries.llmprep import bigram_pairs
    from nfl_data_pipeline_spark.streaming.bigramlm import (
        score_pairs_against,
    )

    v = _read_vocab(spark, state).agg(
        F.count("*").cast("double").alias("v")
    )
    return score_pairs_against(
        bigram_pairs(docs),
        state.bigrams.read(spark).select("prev", "term", "bc"),
        state.contexts.read(spark).select("prev", "cc"),
        v,
    )
