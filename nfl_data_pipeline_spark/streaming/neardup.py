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
shingle sets (|∩|/|∪| of the id sets — integer-exact, no estimator
softness). Net: recall at the threshold itself ≈ banding
recall ≈ 0.99, precision 1.0 among candidates (SCALING.md §"Near-dup
gate recall"; guarded by tests/test_streaming_neardup.py::
test_gate_recall_steps_at_threshold). ``exact_verify=False`` falls
back to the 32-perm estimate (1/32 steps) for deployments that can't
afford the sids registry.

Per batch:

1. sids + signatures + band rows for the batch;
2. candidates (one query, one bounded collect): the batch bands
   join the union of the batch bands and the registry band rows on
   the band value — the batch self-join and the batch × registry
   probe as one join, deduped by one aggregate. Each pair carries
   ``b_reg`` (its second doc came from the registry) and that doc's
   sids bucket. Only the batch bands are a broadcast candidate;
   the registry streams. Past ``DRIVER_MAX_PAIRS`` candidates the
   distributed path below takes over;
3. exact verify on narrow rows: the sids registry is read only for
   the candidate buckets (manifest pruning) and both sides keep only
   the candidate ids. Up to the planner's broadcast bound the
   ``(doc_id, sids)`` rows come back in one collect and are verified
   on the driver; past it they are verified on the executors and
   only the edges come back. Edges with true Jaccard ≥ ``threshold``
   survive;
4. winners on the driver: union-find over the verified edges
   (operators/dedup.union_find), registry membership from the
   candidates' ``b_reg`` side — a registered doc joins a component
   only through a batch × registry band match, and a registered
   batch doc (a replayed winner, an id sent again) matches its own
   registry rows. A component's winner is its registry member if one
   exists (first-arrival-wins across batches), else the min batch
   doc_id (operators/dedup.driver_verdicts). The verdict frame reads
   only batch rows and driver data, so it needs no pin;
5. winners' sids rows, then band rows, append to the registry — each
   an atomic manifest swap carrying the batch id.

Cost honesty: a batch reads the registry twice and touches it
nowhere else. The signature scan is still O(registry) per batch —
band values are uniform hashes, so a real batch touches every one
of the _NB buckets and manifest pruning cannot bite — but it
streams (it is never broadcast) and only the band-matched pairs are
shuffled. The sids read is O(candidate buckets) and narrows to the
candidate ids before anything leaves the executors; the driver
holds at most what a broadcast of it would. Past
``DRIVER_MAX_PAIRS`` candidates the distributed fallback joins them
against the whole sids registry and takes membership from the same
candidate frame (operators/dedup.registry_winner_verdicts).

Replay (same batch id): winners are already registered and meet
their own registry rows (members, kept), losers re-match the same
winners (now through the registry), verdicts reproduce exactly —
asserted by the crash-replay test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nfl_data_pipeline_spark.jobs.txlog import TxTable
from nfl_data_pipeline_spark.operators.dedup import (
    DRIVER_MAX_PAIRS,
    _materialized_sids,
    driver_verdicts,
    registry_winner_verdicts,
    union_find,
    with_minhash_signature,
)
from nfl_data_pipeline_spark.operators.hashing import gate_minhash_perms
from nfl_data_pipeline_spark.operators.localframe import local_frame

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


def _candidates(
    bands: DataFrame, stored: DataFrame | None, keep=None
) -> DataFrame:
    """Pass 1: the batch band self-join and the batch × registry band
    join as ONE join — the batch bands against the union of the batch
    bands and the registry rows — deduped by one aggregate. A batch
    pair keeps ``doc_a < doc_b``; a registry pair keeps every match,
    and one with ``doc_a == doc_b`` (a batch doc meeting its own
    registered rows: a replay, or an id sent again) is a membership
    row, not an edge.
    ``b_reg`` is 1 when ``doc_b`` came from the registry and
    ``bucket`` is ``doc_b``'s sids-registry bucket. Only the batch
    bands are ever a broadcast candidate: the registry streams.
    ``keep`` (the estimator fallback's similarity test) filters pairs
    in the join."""
    other = bands.withColumn("b_reg", F.lit(0))
    if stored is not None:
        other = other.unionByName(
            stored.select(*bands.columns).withColumn("b_reg", F.lit(1))
        )
    a, b = F.col("a.doc_id"), F.col("b.doc_id")
    cond = (F.col("b.b_reg") == 1) | (a < b)
    return (
        bands.alias("a")
        .join(other.alias("b"), ["band_id", "h_lo", "h_hi"])
        .filter(cond if keep is None else cond & keep)
        .select(a.alias("doc_a"), b.alias("doc_b"), "b.b_reg")
        .distinct()
        .withColumn(
            "bucket", F.pmod(F.xxhash64("doc_b"), F.lit(_NB)).cast("long")
        )
    )


def _exact_edges(
    pairs: DataFrame, side: DataFrame, threshold: float
) -> DataFrame:
    """Candidate pairs whose exact shingle Jaccard is ≥ ``threshold``
    (the distributed path); ``side`` holds the ``(doc_id, sids)`` rows
    of both ends."""
    a, b = side.alias("sa"), side.alias("sb")
    inter = F.size(F.array_intersect("sa.sids", "sb.sids"))
    union = F.size(F.array_union("sa.sids", "sb.sids"))
    return (
        pairs.join(a, F.col("doc_a") == F.col("sa.doc_id"))
        .join(b, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(inter / union >= threshold)
        .select("doc_a", "doc_b")
    )


def _verified_pairs(
    spark: SparkSession,
    pairs: list,
    batch_sids: DataFrame,
    sids: TxTable,
    threshold: float,
) -> list:
    """Pass 2: exact verify of the candidate ``pairs`` (candidate rows
    with ``doc_a != doc_b``) on narrow rows. The sids registry is read
    only for the candidate buckets, and one broadcast id list keeps
    only the candidate docs of the batch and of the registry.

    When that ``(doc_id, sids)`` frame is no larger than the planner
    would broadcast (``spark.sql.autoBroadcastJoinThreshold``, by its
    own size estimate), it comes back in one collect and Jaccard is
    |∩| / |∪| of the id sets on the driver — the double
    :func:`_exact_edges` computes; a broadcast would put the same rows
    on the driver. That form runs 2 fewer jobs and ~0.2 s less per
    batch than :func:`_exact_edges` over the same frame (a replayed
    batch of 250 docs against an 8-batch registry, ``local[4]`` on a
    4-core host: 7 vs 9 jobs, 1.21 vs 1.41 s).
    A larger frame is verified on the executors by
    :func:`_exact_edges`, and only the edges reach the driver."""
    if not pairs:
        return []
    batch_ids = {r.doc_a for r in pairs}
    batch_ids |= {r.doc_b for r in pairs if not r.b_reg}
    # a replayed winner is a batch doc AND a registry doc: its batch
    # partners reach it through both joins, so its sids come from the
    # batch and it needs no registry read
    reg_ids = {
        r.doc_b: r.bucket
        for r in pairs
        if r.b_reg and r.doc_b not in batch_ids
    }
    side = batch_sids.select("doc_id", "sids", F.lit(0).alias("_src"))
    reg = None
    if reg_ids:
        reg = sids.read(spark, partitions=set(reg_ids.values()))
    if reg is not None:
        side = side.unionByName(
            reg.select("doc_id", "sids", F.lit(1).alias("_src"))
        )
    id_t = batch_sids.schema["doc_id"].dataType
    want = local_frame(
        spark,
        [(i,) for i in batch_ids | set(reg_ids)],
        T.StructType([T.StructField("doc_id", id_t)]),
    )
    side = side.join(F.broadcast(want), "doc_id", "left_semi")
    edges = {(r.doc_a, r.doc_b) for r in pairs}
    est = side._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if int(est) > int(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ):
        pf = local_frame(
            spark,
            sorted(edges),
            T.StructType(
                [T.StructField("doc_a", id_t), T.StructField("doc_b", id_t)]
            ),
        )
        # a registry row never replaces a batch doc's sids
        side = side.groupBy("doc_id").agg(
            F.min_by("sids", "_src").alias("sids")
        )
        return [tuple(r) for r in _exact_edges(pf, side, threshold).collect()]
    sets: dict = {}
    # batch rows first: a registry row never replaces a batch doc's sids
    for i, v, _ in sorted(side.collect(), key=lambda r: r[2]):
        sets.setdefault(i, frozenset(v))
    out = []
    for a, b in edges:
        sa, sb = sets.get(a), sets.get(b)
        if sa is None or sb is None:
            continue
        union = len(sa | sb)
        if union and len(sa & sb) / union >= threshold:
            out.append((a, b))
    return out


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
    # lazy: the first consumer (the candidate collect below) runs
    # strictly before the concurrent staging threads, so the pin is
    # in place by the time it is shared — one fewer standalone job
    # per batch (r13)
    bands = bands.localCheckpoint(eager=False)

    cands = _candidates(
        bands,
        state.sigs.read(spark),
        None if exact_verify else _est_jaccard("a", "b") >= threshold,
    )
    base_ids = batch_sids.select("doc_id")
    rows = cands.limit(DRIVER_MAX_PAIRS + 1).collect()
    if len(rows) <= DRIVER_MAX_PAIRS:
        # registry membership straight from the candidates: a
        # registered doc joins a component only through a batch ×
        # registry band match, and a registered batch doc (replay, an
        # id sent again) matches its own registry rows
        members = {r.doc_b for r in rows if r.b_reg}
        pairs = [r for r in rows if r.doc_a != r.doc_b]
        if exact_verify:
            pairs = _verified_pairs(
                spark, pairs, batch_sids, state.sids, threshold
            )
        else:
            pairs = [(r.doc_a, r.doc_b) for r in pairs]
        verdicts, losers = driver_verdicts(
            spark,
            base_ids,
            union_find(pairs),
            members,
            base_ids.schema["doc_id"].dataType,
        )
        dropped = losers.select("doc_id")
    else:
        # too many candidates for the driver: the distributed path,
        # membership from the same candidate frame
        edges = cands.filter(F.col("doc_a") != F.col("doc_b")).select(
            "doc_a", "doc_b"
        )
        if exact_verify:
            side = batch_sids.select("doc_id", "sids")
            reg_sids = state.sids.read(spark)
            if reg_sids is not None:
                side = side.unionByName(reg_sids.select("doc_id", "sids"))
            edges = _exact_edges(edges, side, threshold)
        reg_nodes = (
            cands.filter(F.col("b_reg") == 1)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .withColumn("_reg", F.lit(1))
        )
        verdicts = registry_winner_verdicts(
            spark, base_ids, edges, reg_nodes
        )
        dropped = verdicts.filter(F.col("keep") == 0).select("doc_id")

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
                dropped, "doc_id", "left_anti"
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
            new_rows = bands.join(
                dropped, "doc_id", "left_anti"
            ).withColumn(
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
