"""Incremental embedding near-dup gate: the vector twin of
streaming/neardup.py — new batches of embeddings are probed against a
persisted registry of hyperplane-LSH band rows, so "is this vector a
near-copy of anything already kept?" costs a bucketed join against
the registry, never a corpus re-scan.

State: one tx table of band rows ``(band_id, band_val, vec_id, vec,
norm)`` — ``n_bands`` rows per KEPT vector, the vector carried on
each row so the probe is a single join (the n_bands-fold vector
duplication is the storage price of one-hop probes; a normalized
two-table layout trades that for a second join). Hash-derived planes
(operators/similarity._hyperplane_proj) make band values reproducible
by any future batch — the property that lets the registry stay
probe-compatible without storing plane weights.

Per batch: band rows → candidates from the sided pair kernel
(batch×registry ∪ batch×batch on equal band values; the registry SCAN
is O(registry) per batch — only the candidate SHUFFLE is bounded by
the banding, same honesty note as streaming/neardup.py) → exact
cosine verify ≥ threshold; a batch vector meeting its own registered
rows is a membership row and skips the verify → the shared verdict
tail (operators/dedup.gate_verdicts: registered-member-wins, first
arrival across batches, min id within a batch, membership from the
candidates — no registry id scan) → the shared registry write
(operators/dedup.register_kept): the winners' band rows append with
the batch id in one atomic manifest swap. Replays reproduce verdicts
exactly, same argument as the MinHash gate. Maintenance and forget
are the shared operators/dedup.maintain_gate_state and
jobs/forget.forget_docs.

Threshold regime: hyperplane LSH is only selective at high cosine
(recall 1-(1-p^r)^L, p = 1-θ/π) — production near-dup ≥0.9 is the
intended regime, matching embedding_near_dups_banded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.jobs.txlog import TxTable, check_gate_config
from nfl_data_pipeline_spark.operators.dedup import (
    gate_verdicts,
    register_kept,
)
from nfl_data_pipeline_spark.operators.similarity import (
    _count_and_width,
    hyperplane_band_rows,
)

_NB = 16  # registry hash buckets


class EmbDedupState:
    id_col = "vec_id"

    def __init__(self, root: str):
        self.bands = TxTable(os.path.join(root, "bands"))
        self.registries = (("bands", self.bands, ""),)


def process_embdedup_batch(
    spark: SparkSession,
    vectors: DataFrame,
    state: EmbDedupState,
    batch_id: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_bits: int = 8,
    n_bands: int = 4,
    dim: int | None = None,
    engine: str = "sql",
) -> DataFrame:
    """Returns ``(vec_id, keep, dup_of)`` and registers the winners'
    band rows unless ``batch_id`` already applied (replay).

    ``engine="arrow"`` switches the projection to the numpy matmul
    fast path (same hash-derived planes; ~100x per-vector — see
    hyperplane_band_rows). Use ONE engine per registry.

    Without ``dim``, the width comes from the ``_count_and_width``
    contract: mixed widths raise ``ValueError`` and NULL vectors are
    skipped (never a duplicate)."""
    if dim is None:
        _, dim = _count_and_width(vectors, vec_col)
        if not dim:  # empty batch or NULL vectors only: all kept
            return vectors.select(
                id_col, F.col(id_col).alias("dup_of"), F.lit(1).alias("keep")
            )
    cfg = {
        "fp": "hyperplane_lsh",
        "threshold": threshold,
        "band_bits": band_bits,
        "n_bands": n_bands,
        "dim": dim,
        "engine": engine,
    }
    # raise before any work when the registry was written under
    # another configuration (jobs/txlog.check_gate_config): band
    # layout/dim change the band keys, threshold changes verdicts, and
    # the two projection engines are not bit-identical — one
    # configuration per registry
    check_gate_config(state.bands, cfg, "embedding")
    # a NULL vector has no bands: it can match nothing, keeps its
    # verdict row (keep = 1) and never registers
    bands = hyperplane_band_rows(
        vectors.filter(F.col(vec_col).isNotNull()),
        id_col,
        vec_col,
        band_bits,
        n_bands,
        dim,
        engine=engine,
    ).localCheckpoint(eager=True)

    # Candidate verify (r13, guide §8): the band self-join + cross
    # join evaluated the pairwise cosine once per candidate pair with
    # both vectors on the pair row — ~1 KB of Arrow/codegen traffic
    # per pair (SCALING.md: ~3M candidates/batch at the 10× tier).
    # The sided grouped kernel ships each band row once per bucket,
    # scores probe-probe (a < b) and probe-registry pairs in
    # segment-vectorized numpy with the exact fold order of the SQL
    # engine's dim-unrolled dot, and never emits registry-registry
    # pairs. Only this VERIFY stage is exact by construction: a given
    # candidate pair scores bit-identically to the SQL engine under
    # both engine settings. Candidate GENERATION is not: under
    # engine="arrow" the band projector (hyperplane_band_rows) is a
    # BLAS matmul whose summation order can flip the sign of a
    # near-zero projection and so change the candidate set. Equal
    # verdicts across engines are pinned only by the equivalence
    # tests, not guaranteed.
    from nfl_data_pipeline_spark.operators.similarity import (
        _grouped_pair_scores,
    )

    stored = state.bands.read(spark)
    members = bands.selectExpr(
        "band_id", "band_val", "c_id", "c_vec", "c_norm", "0 AS c_side"
    )
    if stored is not None:
        members = members.unionByName(
            stored.selectExpr(
                "band_id", "band_val", "vec_id AS c_id", "vec AS c_vec",
                "norm AS c_norm", "1 AS c_side",
            )
        )
    cands = (
        _grouped_pair_scores(
            members, ["band_id", "band_val"], dim, side_col="c_side"
        )
        # a_id == b_id: a batch vector meeting its own registered rows,
        # a membership row that needs no verify
        .filter(
            (F.col("cosine") >= threshold) | (F.col("a_id") == F.col("b_id"))
        )
        .select(
            F.col("a_id").alias("doc_a"),
            F.col("b_id").alias("doc_b"),
            F.col("b_side").alias("b_reg"),
        )
    )
    verdicts, losers = gate_verdicts(
        spark, vectors.select(id_col), cands, id_col=id_col
    )
    new_rows = bands.selectExpr(
        "c_id AS vec_id", "c_vec AS vec", "c_norm AS norm", "band_id",
        "band_val",
    )
    # stage_files, never stage_files_auto: these rows carry the
    # embedding payload, so the bounding limit(N+1).collect() would
    # itself be the driver hazard at production dims (20k × 768-d ≈
    # 120 MB)
    bucket = F.pmod(F.xxhash64("band_id", "band_val"), F.lit(_NB)).cast(
        "long"
    )
    register_kept(
        [(state.bands, new_rows, bucket, None)],
        losers.select(F.col(id_col).alias("vec_id")),
        batch_id,
        cfg,
    )
    return verdicts
