"""Versioned incremental ANN index — IVF centroids (and optional PQ
codebooks) persisted as tx-table sidecars (VERDICT r7 #4), giving the
incremental similarity-search path the same versioned-state + forget
story as the dedup gates.

The batch operators (operators/similarity.kmeans_ivf_topk / pq_topk)
refit their coarse quantizer per call — fine for one-shot analytics,
wrong for a standing index: queries must route against the SAME
centroids the stored vectors were assigned under, and a new batch of
vectors must not silently retrain the router. Here the trained state
is a JSON sidecar referenced from the commit meta (jobs/txlog.py
``TxTable.meta``; vacuum keeps a sidecar while a retained manifest
names it), so:

- codebook and vector assignments move ATOMICALLY (one manifest
  swap); a crash between sidecar write and commit leaves an orphan
  sidecar that vacuum collects — never a half-updated index;
- time travel works: ``vectors.read(version=v)`` + the codebook
  pointer in ``meta(v)`` reproduce the exact index state at v;
- replay is idempotent: batch ids ride every commit, an applied
  batch re-run changes nothing;
- rebuilds are PINNED (``expected_version`` + bounded retry): a
  vector batch landing mid-rebuild forces a refit from the new
  snapshot instead of silently dropping rows;
- forget purges (right-to-be-forgotten) rewrite ONLY the cell
  partitions holding the purged ids and record those cells as
  ``stale_cells`` in the meta — the centroids were trained on data
  that included the purged vectors, so routing quality for those
  cells is unpinned until the next rebuild clears the marker.
  Query CORRECTNESS is unaffected (centroids only route; returned
  cosines are exact), which is why staleness is a maintenance signal
  and not an error.

Scale posture: vectors partition by cell (= IVF inverted list), so a
query touching ``n_probe`` cells reads only those partitions via
manifest pruning — O(probed lists), not O(index). Assignment is a
broadcast crossJoin against ≤ ``n_cells`` centroid rows (map-only per
batch). The fit itself runs on a bounded sample (``fit_sample``),
never the corpus.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.jobs.txlog import (
    CommitConflict,
    TxTable,
    check_gate_config,
)
from nfl_data_pipeline_spark.operators.hashing import sp_dot
from nfl_data_pipeline_spark.operators.similarity import (
    _assign_nearest,
    fit_centroids,
    with_norm,
)


class AnnIndexState:
    """One tx table of assigned vectors ``(vec_id, vec, norm, cell)``
    partitioned by cell, plus the codebook sidecar pointer in the
    commit meta."""

    def __init__(
        self,
        root: str,
        n_cells: int = 16,
        fit_sample: int = 4096,
        pq_m: int | None = None,
        pq_codes: int = 16,
        opq: bool = False,
    ):
        """``pq_m`` (subvector count) enables product quantization:
        rows carry an m-byte ``codes`` column encoded against PQ
        codebooks stored in the SAME sidecar as the IVF centroids —
        router and quantizer version together, and ``ann_query``'s
        ``use_pq`` path scores candidates by ADC lookups with an
        exact cosine rerank (the pq_topk contract over versioned
        state). ``opq=True`` additionally learns the OPQ rotation
        (Ge et al. 2013) on the fit sample and stores it in the
        sidecar — encode and ADC apply it identically, so the
        rotation versions with the codes it produced."""
        self.vectors = TxTable(os.path.join(root, "vectors"))
        self.n_cells = n_cells
        self.fit_sample = fit_sample
        self.pq_m = pq_m
        self.pq_codes = pq_codes
        self.opq = opq

    # ---- codebook sidecar ------------------------------------------------

    def codebook(self, version: int | None = None) -> dict | None:
        """The codebook the snapshot's vectors were assigned under:
        {"centroids": [[...]], "trained_version": int}. None before
        the first fit. A meta pointer whose sidecar file is GONE
        raises instead of returning None — treating corruption as a
        fresh index would let the next batch refit a new router over
        rows still assigned under the old one (silent recall
        collapse); rebuild_ann_index is the recovery path."""
        path = self.vectors.meta(version).get("codebook")
        if path is None:
            return None
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"ann codebook sidecar missing: {path} — the index "
                "meta references a router that no longer exists on "
                "disk; run rebuild_ann_index to refit from the "
                "stored vectors"
            )
        with open(path) as f:
            return json.load(f)

    def save_codebook(self, book: dict) -> str:
        """Write the codebook sidecar; the caller references the
        returned path in the SAME vectors commit (meta={"codebook":
        path}) so router and rows move atomically — a crash in
        between leaves an orphan sidecar, cleaned by vacuum."""
        side_dir = os.path.join(self.vectors.root, "sidecar")
        os.makedirs(side_dir, exist_ok=True)
        path = os.path.join(side_dir, f"{uuid.uuid4().hex}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(book, f)
        os.replace(tmp, path)
        return path


#: defaults a stamp written before each key existed was provably
#: built under (the mediadedup bucket-stamp lesson: adding a config
#: key must never brick an already-stamped index)
_CFG_DEFAULTS = {"pq_m": None, "pq_codes": 16, "opq": False}


def _gate_cfg(state: AnnIndexState) -> dict:
    # n_cells changes the partition layout AND the router; the PQ
    # shape changes what a stored code MEANS — one configuration per
    # index, enforced like every gate registry
    return {
        "index": "ivf/cosine",
        "n_cells": state.n_cells,
        "pq_m": state.pq_m,
        "pq_codes": state.pq_codes,
        "opq": state.opq,
    }


def _check_cfg(state: AnnIndexState) -> dict:
    """The gate-config guard with forward-compatible stamps: a stamp
    that predates one of the optional keys is upgraded in place with
    the default that code provably used (module constants, not
    operator claims — the same reasoning as mediadedup's legacy
    bucket upgrade), so adding a config key never bricks a deployed
    index."""
    cfg = _gate_cfg(state)
    v = state.vectors.latest_version()
    stamped = (
        state.vectors.meta(v).get("gate_config") if v is not None else None
    )
    if stamped is not None:
        missing = {
            k: dflt for k, dflt in _CFG_DEFAULTS.items() if k not in stamped
        }
        if missing:
            state.vectors.commit(
                [],
                expected_version=v,
                meta={"gate_config": {**stamped, **missing}},
            )
    check_gate_config(state.vectors, cfg, "ann-index")
    return cfg


def _centroid_df(spark: SparkSession, book: dict) -> DataFrame:
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    return local_frame(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(book["centroids"])],
        "cid int, cvec array<double>",
    )


def _fit_book(
    spark: SparkSession, vectors: DataFrame, state: AnnIndexState,
    trained_version: int,
) -> dict:
    """Deterministic centroid fit on a bounded, deterministic sample
    (lowest vec_ids — the same order-pinning the fit itself uses), so
    a crash-replayed rebuild refits IDENTICAL centroids from the same
    snapshot."""
    # ONE sample job: the ordered sample is collected once and feeds
    # both the centroid fit (as a small local frame) and the PQ fit —
    # re-deriving it would scan+sort the stored vector set twice per
    # rebuild
    sample_rows = (
        vectors.orderBy("vid").limit(state.fit_sample).collect()
    )
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    sample = local_frame(
        spark,
        [(r["vid"], r["vec"]) for r in sample_rows],
        "vid long, vec array<double>",
    )
    cents = fit_centroids(sample, state.n_cells).orderBy("cid").collect()
    book = {
        "centroids": [list(r["cvec"]) for r in cents],
        "trained_version": trained_version,
        "n_cells": state.n_cells,
    }
    if state.pq_m is not None:
        import numpy as np

        from nfl_data_pipeline_spark.operators.similarity import (
            _fit_books,
            opq_iterate,
        )

        raw = np.array(
            [r["vec"] for r in sample_rows], dtype=np.float64
        )
        norms = np.linalg.norm(raw, axis=1, keepdims=True)
        normed = raw / np.where(norms == 0, 1.0, norms)
        if state.opq:
            rot, books, _errs = opq_iterate(
                normed, state.pq_m, state.pq_codes,
                outer_iters=6, lloyd_iters=4, seed=42,
            )
            book["pq_rotation"] = rot.tolist()
        else:
            books = _fit_books(
                normed, state.pq_m, state.pq_codes, iters=10, seed=42
            )
        book["pq_books"] = books.tolist()
    return book


def _assigned_rows(
    vectors: DataFrame, cents: DataFrame, book: dict | None = None
) -> DataFrame:
    assigned = _assign_nearest(vectors, cents).select(
        F.col("vid").alias("vec_id"), "vec", F.col("cid").alias("cell")
    )
    out = with_norm(assigned, "vec")
    if book is not None and book.get("pq_books") is not None:
        from nfl_data_pipeline_spark.operators.similarity import (
            pq_encode_udf,
        )

        out = out.withColumn(
            "codes",
            pq_encode_udf(book["pq_books"], book.get("pq_rotation"))("vec"),
        )
    return out


def process_ann_batch(
    spark: SparkSession,
    batch: DataFrame,
    state: AnnIndexState,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_retries: int = 3,
) -> dict:
    """Add one batch of vectors to the index. The FIRST batch fits
    the centroids (sidecar + rows in one commit); later batches load
    the stored codebook and assign map-only — the router never
    retrains implicitly. Replay (applied batch_id) is a no-op.

    The commit is PINNED to the version the codebook was resolved
    from: an unpinned commit could land a batch assigned under a
    STALE router on top of a concurrent rebuild (rows in cells the
    live codebook never routes to — silently unreachable), and two
    concurrent first batches could each fit a different book with the
    loser's rows mis-assigned under the winner's. On conflict the
    batch re-resolves the codebook and re-assigns (bounded retry)."""
    vectors = batch.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    for _ in range(max_retries):
        cfg = _check_cfg(state)
        if state.vectors.is_applied(batch_id):
            return {
                "applied": False,
                "version": state.vectors.latest_version(),
            }
        v = state.vectors.latest_version()
        book = state.codebook()
        meta: dict = {"gate_config": cfg}
        if book is None:
            book = _fit_book(spark, vectors, state, -1 if v is None else v)
            meta["codebook"] = state.save_codebook(book)
        rows = _assigned_rows(vectors, _centroid_df(spark, book), book)
        adds = state.vectors.stage_files(rows, "cell")
        try:
            new_v = state.vectors.commit(
                adds,
                batch_id=batch_id,
                expected_version=v,
                meta=meta,
            )
        except CommitConflict:
            continue  # head moved: re-resolve the codebook, re-assign
        return {
            "applied": True,
            "version": new_v,
            "rows": sum(e.get("rows") or 0 for e in adds),
        }
    raise CommitConflict(
        f"ann batch {batch_id!r} lost the commit race {max_retries} times"
    )


def ann_query(
    spark: SparkSession,
    state: AnnIndexState,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    use_pq: bool = False,
    shortlist: int = 50,
) -> DataFrame:
    """Top-k cosine over the stored index: route each query to its
    ``n_probe`` nearest cells against the STORED codebook, then read
    ONLY those cell partitions (manifest pruning — O(probed lists),
    not O(index)) and score with the fold-exact cosine. Returns
    (q_id, rank, vec_id, cosine).

    ``use_pq=True`` (requires the index built with ``pq_m``):
    candidates inside the probed cells are first scored by asymmetric
    distance — ``m`` JVM-side array lookups against the per-query ADC
    table, no full-vector math — the top ``shortlist`` per query then
    rerank with the exact cosine (the ``pq_topk`` contract, against
    the VERSIONED codes/codebooks instead of a per-call refit).

    ``exclude_self=True`` (the corpus-self-query convention of
    ``cosine_topk``/``kmeans_ivf_topk``) drops candidates whose
    stored id equals the query id. Pass False when the query id
    space is independent of the index — an id coincidence would
    otherwise silently drop a true neighbor."""
    book = state.codebook()
    if book is None:
        from nfl_data_pipeline_spark.operators.localframe import (
            empty_frame,
        )

        return empty_frame(
            spark, "q_id long, rank int, vec_id long, cosine double"
        )
    q = with_norm(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).cast("array<double>").alias("q_vec"),
        ),
        "q_vec",
    ).withColumnRenamed("norm", "q_norm")
    # two consumers (the cells collect + the candidate join) — pin
    # the crossJoin+window assignment once (the semantic_dedup
    # multi-consumer lesson, operators/similarity.py)
    probes = (
        _assign_nearest(
            q.select(F.col("q_id").alias("vid"), F.col("q_vec").alias("vec")),
            _centroid_df(spark, book),
            probes=n_probe,
        )
        .select(F.col("vid").alias("q_id"), F.col("cid").alias("cell"))
        .localCheckpoint(eager=True)
    )
    cells = {r["cell"] for r in probes.select("cell").distinct().collect()}
    stored = state.vectors.read(spark, partitions=cells)
    if stored is None:
        from nfl_data_pipeline_spark.operators.localframe import (
            empty_frame,
        )

        return empty_frame(
            spark, "q_id long, rank int, vec_id long, cosine double"
        )
    if use_pq:
        books = book.get("pq_books")
        if books is None:
            raise ValueError(
                "use_pq=True but the index was built without pq_m — "
                "the stored rows carry no codes"
            )
        import numpy as np

        from pyspark.sql import types as T

        from nfl_data_pipeline_spark.operators.similarity import adc_table

        q_rows = q.collect()  # queries are the small side by contract
        id_type = queries.schema[id_col].dataType
        from nfl_data_pipeline_spark.operators.localframe import (
            local_frame,
        )

        qdf = local_frame(
            spark,
            [
                (
                    r["q_id"],
                    r["q_vec"],
                    float(r["q_norm"]),
                    adc_table(
                        np.array(r["q_vec"], dtype=np.float64),
                        books,
                        book.get("pq_rotation"),
                    ),
                )
                for r in q_rows
            ],
            T.StructType(
                [
                    T.StructField("q_id", id_type),
                    T.StructField("q_vec", T.ArrayType(T.DoubleType())),
                    T.StructField("q_norm", T.DoubleType()),
                    T.StructField("adc_table", T.ArrayType(T.DoubleType())),
                ]
            ),
        )
        m_ = len(books)
        n_codes_ = len(books[0])
        adc = F.expr(
            f"aggregate(sequence(0, {m_ - 1}), cast(0.0 as double), "
            f"(s, i) -> s + adc_table[i * {n_codes_} + codes[i]])"
        )
        cand = F.broadcast(probes.join(qdf, "q_id")).join(stored, "cell")
        if exclude_self:
            cand = cand.filter(F.col("q_id") != F.col("vec_id"))
        w_short = Window.partitionBy("q_id").orderBy(
            F.col("adc").asc(), F.col("vec_id")
        )
        cand = (
            cand.withColumn("adc", adc)
            .withColumn("_srank", F.row_number().over(w_short))
            .filter(F.col("_srank") <= shortlist)
        )
    else:
        cand = F.broadcast(probes.join(q, "q_id")).join(stored, "cell")
        if exclude_self:
            cand = cand.filter(F.col("q_id") != F.col("vec_id"))
    cand = (
        cand
        .withColumn(
            "cosine",
            F.expr(sp_dot("q_vec", "vec"))
            / (F.col("q_norm") * F.col("norm")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "cosine")
    )


def rebuild_ann_index(
    spark: SparkSession, state: AnnIndexState, max_retries: int = 3
) -> dict:
    """Refit the centroids on the CURRENT vector set and re-assign
    every row, swapping rows + codebook in ONE pinned commit:
    ``expected_version`` makes the swap conditional on the snapshot
    the fit read, so a
    vector batch landing mid-rebuild forces a refit from the new
    snapshot rather than silently dropping its rows. Clears
    ``stale_cells`` (the forget marker) — the new centroids are
    trained on the post-purge corpus."""
    for _ in range(max_retries):
        v = state.vectors.latest_version()
        if v is None:
            return {"rebuilt": False, "reason": "empty"}
        stored = state.vectors.read(spark, version=v)
        if stored is None:
            return {"rebuilt": False, "reason": "empty"}
        vectors = stored.select(
            F.col("vec_id").alias("vid"), "vec"
        )
        book = _fit_book(spark, vectors, state, v)
        rows = _assigned_rows(vectors, _centroid_df(spark, book), book)
        adds = state.vectors.stage_files(rows, "cell")
        old_parts = {f["partition"] for f in state.vectors.manifest(v)["files"]}
        try:
            new_v = state.vectors.commit(
                adds,
                remove_partitions=old_parts,
                expected_version=v,
                meta={
                    "codebook": state.save_codebook(book),
                    "stale_cells": [],
                },
            )
            return {"rebuilt": True, "version": new_v}
        except CommitConflict:
            continue
    return {"rebuilt": False, "reason": "conflict"}


def purge_ann_vectors(
    spark: SparkSession, state: AnnIndexState, ids: list
) -> dict:
    """Right-to-be-forgotten over the index: rewrite ONLY the cell
    partitions holding the purged ids (one pinned commit) and mark
    those cells stale in the meta — the stored centroids were trained
    on data including the purged vectors, so the next
    ``rebuild_ann_index`` refits them; until then queries stay
    correct (routing only) but the affected lists' recall is
    unpinned. Returns cells touched + rows purged."""
    v = state.vectors.latest_version()
    if v is None or not ids:
        return {"cells": [], "purged": 0}
    stored = state.vectors.read(spark, version=v)
    if stored is None:
        return {"cells": [], "purged": 0}
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    id_df = F.broadcast(
        local_frame(spark, [(int(i),) for i in ids], "vec_id long")
    )
    touched = {
        r["cell"]
        for r in stored.join(id_df, "vec_id")
        .select("cell")
        .distinct()
        .collect()
    }
    if not touched:
        return {"cells": [], "purged": 0}
    slice_df = state.vectors.read(spark, version=v, partitions=touched)
    survivors = slice_df.join(id_df, "vec_id", "left_anti")
    purged = slice_df.count() - survivors.count()
    adds = state.vectors.stage_files(survivors, "cell")
    prev_stale = set(state.vectors.meta(v).get("stale_cells") or [])
    state.vectors.commit(
        adds,
        remove_partitions={str(c) for c in touched},
        expected_version=v,
        meta={"stale_cells": sorted(prev_stale | {int(c) for c in touched})},
    )
    return {"cells": sorted(touched), "purged": purged}


def maintain_ann_state(
    spark: SparkSession,
    state: AnnIndexState,
    min_files: int = 8,
    retain_versions: int = 2,
    grace_s: float = 300.0,
    rebuild_stale_threshold: int | None = None,
) -> dict:
    """Compact the per-batch cell files back toward one file per cell
    and vacuum expired versions + orphan codebook sidecars (the live
    sidecar is meta-referenced and survives). When
    ``rebuild_stale_threshold`` is set and at least that many cells
    are marked stale by forget purges, run the pinned rebuild too."""
    out: dict = {}
    out["compacted"] = state.vectors.compact(
        spark, min_files=min_files, partition_col="cell"
    )
    out["deleted_files"] = state.vectors.vacuum(
        retain_versions=retain_versions, grace_s=grace_s
    )
    stale = state.vectors.meta().get("stale_cells") or []
    out["stale_cells"] = len(stale)
    if (
        rebuild_stale_threshold is not None
        and len(stale) >= rebuild_stale_threshold
    ):
        out["rebuild"] = rebuild_ann_index(spark, state)
    return out
