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
4. winners (operators/dedup.gate_verdicts, the verdict tail all four
   registry gates share): registry membership from the candidates'
   ``b_reg`` side — a registered doc joins a component only through a
   batch × registry band match, and a registered batch doc (a
   replayed winner, an id sent again) meets its own registry rows in
   a membership row. A component's winner is its registry member if
   one exists (first-arrival-wins across batches), else the min batch
   doc_id. On the driver path the verdict frame reads only batch rows
   and driver data, so it needs no pin;
5. the winners' sids rows, then band rows, append to the registry
   (operators/dedup.register_kept, the shared registry write) — each
   an atomic manifest swap carrying the batch id.

Cost honesty: a batch reads the registry twice and touches it
nowhere else; no step reads it to find membership. The signature
scan is still O(registry) per batch — band values are uniform
hashes, so a real batch touches every one of the _NB buckets and
manifest pruning cannot bite — but it streams (it is never
broadcast) and only the band-matched pairs are shuffled. The sids
read is O(candidate buckets) and narrows to the candidate ids before
anything leaves the executors; the driver holds at most what a
broadcast of it would. Past ``DRIVER_MAX_PAIRS`` candidates the
distributed fallback joins them against the whole sids registry and
the shared tail takes membership from the same candidate frame.

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

from nfl_data_pipeline_spark.jobs.txlog import TxTable, check_gate_config
from nfl_data_pipeline_spark.operators.dedup import (
    DRIVER_MAX_PAIRS,
    _materialized_sids,
    gate_verdicts,
    probe_candidates,
    register_kept,
    with_minhash_signature,
)
from nfl_data_pipeline_spark.operators.hashing import gate_minhash_perms
from nfl_data_pipeline_spark.operators.localframe import local_frame

_NB = 16  # registry hash buckets
GATE_PERMS = gate_minhash_perms(32)
GATE_BANDS = 16  # × 2 rows — 1-(1-J^2)^16 candidate recall
_SIG = [f"mh{i}" for i in range(len(GATE_PERMS))]


class NearDupState:
    id_col = "doc_id"

    def __init__(self, root: str):
        self.sigs = TxTable(os.path.join(root, "signatures"))
        self.sids = TxTable(os.path.join(root, "sids"))
        # (name, table, forget batch-id suffix) — operators/dedup.
        # maintain_gate_state and jobs/forget.forget_docs
        self.registries = (
            ("signatures", self.sigs, "-sigs"),
            ("sids", self.sids, "-sids"),
        )


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


def _exact_edges(
    pairs: DataFrame, side: DataFrame, threshold: float
) -> DataFrame:
    """Candidate rows whose exact shingle Jaccard is ≥ ``threshold``
    (the distributed path); ``side`` holds the ``(doc_id, sids)`` rows
    of both ends."""
    a, b = side.alias("sa"), side.alias("sb")
    inter = F.size(F.array_intersect("sa.sids", "sb.sids"))
    union = F.size(F.array_union("sa.sids", "sb.sids"))
    return (
        pairs.join(a, F.col("doc_a") == F.col("sa.doc_id"))
        .join(b, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(inter / union >= threshold)
        .select("doc_a", "doc_b", "b_reg")
    )


def _verified_pairs(
    spark: SparkSession,
    pairs: list,
    batch_sids: DataFrame,
    sids: TxTable,
    threshold: float,
) -> list:
    """Pass 2: exact verify of the candidate ``pairs`` (candidate rows
    with ``doc_a != doc_b``) on narrow rows; returns the passing
    ``(doc_a, doc_b, b_reg)`` rows. The sids registry is read
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
    edges = {(r.doc_a, r.doc_b, r.b_reg) for r in pairs}
    est = side._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if int(est) > int(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ):
        pf = local_frame(
            spark,
            sorted(edges),
            T.StructType(
                [
                    T.StructField("doc_a", id_t),
                    T.StructField("doc_b", id_t),
                    T.StructField("b_reg", T.IntegerType()),
                ]
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
    for a, b, reg in edges:
        sa, sb = sets.get(a), sets.get(b)
        if sa is None or sb is None:
            continue
        union = len(sa | sb)
        if union and len(sa & sb) / union >= threshold:
            out.append((a, b, reg))
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
    # raise before any work on a registry written under another
    # configuration; the config is stamped into the commit's meta
    cfg = check_gate_config(
        state.sigs, _gate_config(exact_verify), "signature"
    )
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

    # pass 1: the batch band self-join and the batch × registry band
    # join as ONE join; ``keep`` is the estimator fallback's test, and
    # ``bucket`` is ``doc_b``'s sids-registry bucket
    cands = probe_candidates(
        bands,
        state.sigs.read(spark),
        ["band_id", "h_lo", "h_hi"],
        keep=None if exact_verify else _est_jaccard("a", "b") >= threshold,
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("doc_b"), F.lit(_NB)).cast("long")
    )
    got = cands.limit(DRIVER_MAX_PAIRS + 1).collect()
    rows = None
    if len(got) > DRIVER_MAX_PAIRS:
        # too many candidates for the driver: the distributed tail
        if exact_verify:
            side = batch_sids.select("doc_id", "sids")
            reg_sids = state.sids.read(spark)
            if reg_sids is not None:
                side = side.unionByName(reg_sids.select("doc_id", "sids"))
            member = F.col("doc_a") == F.col("doc_b")
            cands = cands.filter(member).select(
                "doc_a", "doc_b", "b_reg"
            ).unionByName(
                _exact_edges(cands.filter(~member), side, threshold)
            )
    else:
        rows = [(r.doc_a, r.doc_b, r.b_reg) for r in got]
        if exact_verify:
            rows = [r for r in rows if r[0] == r[1]] + _verified_pairs(
                spark,
                [r for r in got if r.doc_a != r.doc_b],
                batch_sids,
                state.sids,
                threshold,
            )
    verdicts, losers = gate_verdicts(
        spark, batch_sids.select("doc_id"), cands, rows=rows
    )
    # sids before signatures: the signatures commit is the
    # batch-completion signal (the is_applied gate in replay).
    # stage_files_auto: a metadata-sized batch stages driver-side (a
    # distributed append pays the ~1 s/table Spark-job floor); frames
    # past its bound take stage_files unchanged
    writes = [
        (
            state.sigs,
            bands,
            F.pmod(F.xxhash64("h_lo", "h_hi"), F.lit(_NB)).cast("long"),
            "neardup.py:sigs-append",
        )
    ]
    if exact_verify:
        sids_rows = batch_sids.select("doc_id", "sids")
        bucket = F.pmod(F.xxhash64("doc_id"), F.lit(_NB)).cast("long")
        writes.insert(
            0, (state.sids, sids_rows, bucket, "neardup.py:sids-append")
        )
    register_kept(writes, losers.select("doc_id"), batch_id, cfg)
    return verdicts
