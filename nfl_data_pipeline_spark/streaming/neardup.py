"""Incremental MinHash-LSH near-duplicate gate: each arriving batch
is probed against a PERSISTED signature registry — the "new crawl vs
existing corpus" dedup that a one-shot ``minhash_lsh_pairs`` self-join
cannot express without re-scanning the corpus per batch.

State: two tx tables —

- ``signatures``: banded rows ``(band_id, h_lo, h_hi, doc_id,
  mh0..mh31)`` — ``GATE_BANDS`` rows per registered doc, hash-bucketed
  on the band value for manifest pruning;
- ``sids``: one row per registered doc ``(doc_id, sids)`` — the
  distinct shingle-id set, the material the exact-verify stage joins
  against (bucketed by doc_id).

Only KEPT (non-duplicate) docs register, so both tables grow with the
deduplicated corpus, not the raw stream.

Recall design (the r3 dial-wiring): the 8-perm / 4×2-band demo
signature gives banding candidate recall 1-(1-J²)^4 ≈ 0.68 at J=0.5,
and the 8-component estimate moves in 1/8 steps — measured 63% recall
AT the gate threshold (SCALING.md). The gate therefore uses its own
32-perm signature (hashing.gate_minhash_perms — fixed constants, so
registries stay probe-compatible) banded 16×2 → candidate recall
1-(1-J²)^16 ≈ 0.99 at J=0.5, and VERIFIES candidates exactly on the
shingle sets (|∩|/|∪| via array_intersect/union — integer-exact, no
estimator softness). Net: recall at the threshold itself ≈ banding
recall ≈ 0.99, precision 1.0 among candidates (measured:
tools/neardup_gate_recall.py). ``exact_verify=False`` falls back to
the 32-perm estimate (1/32 steps) for deployments that can't afford
the sids registry.

Per batch:

1. sids + signatures + band rows for the batch;
2. candidate pairs = batch bands ⋈ registry bands on the band value
   (bucketed, never all-pairs) ∪ the batch's internal band self-join.
   Cost honesty (same shape as the funnel's registry study in
   SCALING.md): the probe SHUFFLES only the band-matched candidates,
   but the registry SCAN is O(registry) per batch — band values are
   uniform hashes, so any real batch touches every one of the _NB
   buckets and manifest pruning cannot bite. The scan parallelizes
   across executors; the shuffle is what the banding bounds;
3. exact verify: candidates join their shingle sets (batch side from
   the materialized sids, registry side from the sids table) and keep
   edges with true Jaccard ≥ ``threshold``;
4. connected components over the surviving edges
   (operators/dedup.connected_components — driver union-find on the
   post-threshold edge set, distributed fallback): a component's
   winner is its REGISTRY member if one exists (first-arrival-wins
   across batches), else the min batch doc_id;
5. winners' sids rows, then band rows, append to the registry — each
   an atomic manifest swap carrying the batch id.

Replay (same batch id): winners are already registered; their
registry rows are excluded as self-matches, losers re-match the same
winners (now through the registry), verdicts reproduce exactly —
asserted by the crash-replay test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.jobs.txlog import TxTable
from nfl_data_pipeline_spark.operators.dedup import (
    _materialized_sids,
    registry_winner_verdicts,
    with_minhash_signature,
)
from nfl_data_pipeline_spark.operators.hashing import gate_minhash_perms

_NB = 16  # registry hash buckets
GATE_PERMS = gate_minhash_perms(32)
GATE_BANDS = 16  # × 2 rows — 1-(1-J^2)^16 candidate recall
_SIG = [f"mh{i}" for i in range(len(GATE_PERMS))]


class NearDupState:
    def __init__(self, root: str):
        self.sigs = TxTable(os.path.join(root, "signatures"))
        self.sids = TxTable(os.path.join(root, "sids"))


def _gate_config(exact_verify: bool) -> dict:
    """The probe-compatibility contract of a persisted registry: the
    permutation constants, banding, and verify mode all change band
    keys or required side tables — a registry written under any other
    combination silently never matches probes."""
    import hashlib

    return {
        "perms_md5": hashlib.md5(repr(GATE_PERMS).encode()).hexdigest(),
        "bands": GATE_BANDS,
        "exact_verify": bool(exact_verify),
    }


def _check_gate_config(state: NearDupState, exact_verify: bool) -> dict:
    """Raise before any work if the persisted registry was written
    under a different gate configuration — the shared guard
    (jobs/txlog.check_gate_config). Returns the current config for
    stamping into the commit's meta."""
    from nfl_data_pipeline_spark.jobs.txlog import check_gate_config

    return check_gate_config(
        state.sigs, _gate_config(exact_verify), "signature"
    )


def _band_rows(sig: DataFrame) -> DataFrame:
    """Explode a signature frame into banded probe rows. Built as ONE
    SQL expression: the equivalent Column tree costs a py4j round
    trip per lit/col/alias/struct node (~1,400 per batch)."""
    bands = ", ".join(
        f"named_struct('band_id', {bi}, 'h_lo', mh{2 * bi}, "
        f"'h_hi', mh{2 * bi + 1})"
        for bi in range(GATE_BANDS)
    )
    return sig.selectExpr(
        "doc_id", *_SIG, f"explode(array({bands})) AS band"
    ).select("doc_id", *_SIG, "band.*")


def _est_jaccard(a_prefix: str, b_prefix: str):
    """MinHash similarity estimate between two signature row sides
    (1/32 steps — the no-sids-registry fallback)."""
    agree = sum(
        F.when(
            F.col(f"{a_prefix}.{c}") == F.col(f"{b_prefix}.{c}"), 1
        ).otherwise(0)
        for c in _SIG
    )
    return agree / float(len(_SIG))


def _exact_jaccard():
    return F.size(F.array_intersect("a_sids", "b_sids")) / F.size(
        F.array_union("a_sids", "b_sids")
    )


def process_neardup_batch(
    spark: SparkSession,
    docs: DataFrame,
    state: NearDupState,
    batch_id: str,
    threshold: float = 0.5,
    text_col: str = "text",
    exact_verify: bool = True,
) -> DataFrame:
    """Run one batch through the incremental gate. Returns the
    verdict frame ``(doc_id, keep, dup_of)`` — ``dup_of`` is the
    winning doc (itself when kept) — and registers the winners'
    signatures + sids unless this ``batch_id`` already applied
    (replay)."""
    cfg = _check_gate_config(state, exact_verify)
    batch_sids = _materialized_sids(docs, text_col, 3)
    sig = with_minhash_signature(batch_sids, GATE_PERMS).select(
        "doc_id", *_SIG
    )
    bands = _band_rows(sig)
    if exact_verify:
        # similarity comes from the shingle sets, so neither the
        # probe rows nor the REGISTRY need the 32 signature columns —
        # dropping them shrinks the checkpoint, the per-batch staging
        # write, and the stored registry ~5×. (A registry written by
        # the exact gate therefore can't serve the estimator
        # fallback: one configuration per registry.)
        bands = bands.select("doc_id", "band_id", "h_lo", "h_hi")
    # lazy: the first consumer (the candidate-edge materialization
    # inside the verdict tail) runs strictly before the concurrent
    # staging threads, so the pin is in place by the time it is
    # shared — one fewer standalone job per batch (r13)
    bands = bands.localCheckpoint(eager=False)

    band_key = ["band_id", "h_lo", "h_hi"]
    stored = state.sigs.read(spark)

    # candidate pairs: doc_a = batch doc, doc_b = counterpart
    # (registry doc or earlier batch doc)
    intra = (
        bands.alias("a")
        .join(bands.alias("b"), band_key)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if exact_verify:
        cands = intra.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        ).distinct()
        if stored is not None:
            cross = (
                bands.alias("a")
                .join(stored.alias("b"), band_key)
                .filter(F.col("a.doc_id") != F.col("b.doc_id"))
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            cands = cands.unionByName(cross)
        # exact Jaccard on the shingle sets — batch docs from the
        # materialized sids, registry docs from the sids table
        side = batch_sids.select("doc_id", "sids")
        reg_sids = state.sids.read(spark)
        if reg_sids is not None:
            side = side.unionByName(reg_sids.select("doc_id", "sids"))
        edges = (
            cands.join(
                side.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("sids").alias("a_sids"),
                ),
                "doc_a",
            )
            .join(
                side.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("sids").alias("b_sids"),
                ),
                "doc_b",
            )
            .filter(_exact_jaccard() >= threshold)
            .select("doc_a", "doc_b")
        )
    else:
        edges = intra.filter(_est_jaccard("a", "b") >= threshold).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        if stored is not None:
            cross = (
                bands.alias("a")
                .join(stored.alias("b"), band_key)
                .filter(F.col("a.doc_id") != F.col("b.doc_id"))
                .filter(_est_jaccard("a", "b") >= threshold)
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
            )
            edges = edges.unionByName(cross)

    # winner per component: registered member (min id among them) if
    # any, else min batch doc id — the shared gate tail
    # (operators/dedup.registry_winner_verdicts)
    reg_nodes = (
        stored.select("doc_id").distinct().withColumn("_reg", F.lit(1))
        if stored is not None
        else None
    )
    verdicts = registry_winner_verdicts(
        spark, sig.select("doc_id"), edges, reg_nodes
    )

    kept = verdicts.filter(F.col("keep") == 1).select("doc_id")
    # Stage both registries CONCURRENTLY (staging is the expensive
    # Spark write; files are invisible until commit), then commit
    # sids first, signatures last — the signatures marker is the
    # batch-completion signal (is_applied gate below and in replay),
    # so the publish order stays exactly as before.
    from concurrent.futures import ThreadPoolExecutor

    stage_sids = exact_verify and not state.sids.is_applied(batch_id)
    stage_sigs = not state.sigs.is_applied(batch_id)
    sids_adds = sigs_adds = None
    with ThreadPoolExecutor(max_workers=2) as pool:
        if stage_sids:
            new_sids = batch_sids.select("doc_id", "sids").join(
                kept, "doc_id"
            ).withColumn(
                "bucket",
                F.pmod(F.xxhash64("doc_id"), F.lit(_NB)).cast("long"),
            )
            # stage_files_auto: a metadata-sized incremental batch
            # stages driver-side (r11 left these two appends always
            # distributed — a small batch paid the ~1 s/table
            # Spark-job floor twice); bench-scale frames exceed the
            # bound and take stage_files unchanged.
            sids_adds = pool.submit(
                state.sids.stage_files_auto, new_sids, "bucket",
                site="neardup.py:sids-append",
            )
        if stage_sigs:
            new_rows = bands.join(kept, "doc_id").withColumn(
                "bucket",
                F.pmod(F.xxhash64("h_lo", "h_hi"), F.lit(_NB)).cast("long"),
            )
            sigs_adds = pool.submit(
                state.sigs.stage_files_auto, new_rows, "bucket",
                site="neardup.py:sigs-append",
            )
    if sids_adds is not None:
        state.sids.commit(sids_adds.result(), batch_id=batch_id)
    if sigs_adds is not None:
        state.sigs.commit(
            sigs_adds.result(),
            batch_id=batch_id,
            meta={"gate_config": cfg},
        )
    return verdicts


def maintain_neardup_state(
    spark: SparkSession,
    state: NearDupState,
    min_files: int = 8,
    retain_versions: int = 2,
    grace_s: float = 300.0,
) -> dict:
    """Periodic maintenance for a long-running gate: every batch
    appends one file per touched bucket to the signature and sids
    registries, so file counts grow O(buckets × batches) — the
    streaming small-file problem. Compact back toward one file per
    bucket once ``min_files`` accumulate, then vacuum versions beyond
    ``retain_versions``. Pure metadata + layout transaction: identical
    rows, batch markers carried forward — probe results and replay
    verdicts are unchanged (asserted in tests/test_gate_maintenance)."""
    out = {}
    for name, table in (("signatures", state.sigs), ("sids", state.sids)):
        compacted = table.compact(
            spark, min_files=min_files, partition_col="bucket"
        )
        deleted = table.vacuum(
            retain_versions=retain_versions, grace_s=grace_s
        )
        out[name] = {"compacted": compacted, "deleted_files": deleted}
    return out
