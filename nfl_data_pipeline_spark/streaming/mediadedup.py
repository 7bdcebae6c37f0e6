"""Incremental image/audio fingerprint registries — the multimodal
gate twins of streaming/neardup.py (text MinHash) and
streaming/embdedup.py (embeddings): "is this image/clip a near-copy
of anything already KEPT?" costs a bucketed probe against a persisted
fingerprint registry, never a corpus re-scan.

Image gate state: one tx table of pigeonhole bit-slice rows
``(doc_id, fp, chunk_id, chunk_val)`` — ``max_hamming + 1`` rows per
registered image (operators/dedup.hamming_chunk_rows over the 64-bit
pHash, operators/multimodal.phash_ppm), hash-bucketed on the chunk
value for manifest layout. Two pHashes within ``max_hamming`` bits
must share at least one whole slice, so the probe is an equi-join on
``(chunk_id, chunk_val)`` with an exact ``bit_count(a ^ b)`` verify —
the same candidates-then-verify contract as the batch
``image_near_dups``.

Audio gate state: one tx table of constellation landmark rows
``(doc_id, h, t)`` (operators/multimodal.afp_hashes — Wang-2003
anchor pairs), bucketed on the hash value. A probe joins batch
landmarks to registry landmarks on ``h`` and keeps pairs with
``min_matches`` shared hashes at ONE consistent time offset — the
offset-consistency vote that kills coincidental collisions, identical
to the batch ``audio_near_dups``.

Both gates run the registry skeleton all four dedup gates share —
each keeps only its key rows, its registry read and its verify:

- candidates ``(doc_a, doc_b, b_reg)`` from ONE join of the batch
  rows against the batch rows plus the registry rows; a batch doc
  meeting its own registered rows (a replay, an id sent again) is a
  membership row — one shared key, no verify — so no step scans the
  registry to find its members;
- the shared verdict tail (operators/dedup.gate_verdicts): winner
  per connected component is its REGISTRY member when one exists
  (first-arrival-wins across batches), else the min batch id;
- the shared registry write (operators/dedup.register_kept): only
  KEPT (non-duplicate) media register, so state grows with the
  deduplicated corpus, not the stream;
- the registry probe is partition-scoped: every row of one probe
  key (chunk value / landmark hash) lives in one of ``_NB`` hash
  buckets, so each batch reads only its touched buckets —
  O(touched buckets), not O(registry) — and the per-key hot caps
  stay exact over the pruned slice; the caps apply to BOTH sides of
  the candidate join (batch rows at generation, stored rows at
  probe), so a key that goes hot across batches stops generating
  candidates instead of eroding the defense as the registry grows;
- batch ids ride every commit → replay idempotence: a replay probes
  the snapshot BEFORE its own commit (``TxTable.read_before_batch``),
  so verdicts reproduce exactly even under the registry-side caps
  (probing the head would count the batch's own rows); the fallback
  when that snapshot was vacuumed is the head — size
  ``retain_versions`` to the replay window;
- the gate configuration (fingerprint layout + thresholds that
  change band keys or verdicts) is STAMPED into the table meta on
  first commit and enforced on every batch — the ADVICE-r4 lesson
  from the text gate: an incompatible registry must raise, not
  silently pass known near-dups;
- maintenance (operators/dedup.maintain_gate_state) compacts the
  per-batch bucket files back toward one file per bucket and vacuums
  old versions — verdict-preserving; forget is
  jobs/forget.forget_docs.

Operating guidance on the hot caps (SCALING.md round 7): because the
caps now bound BOTH sides of the candidate join, size them for the
registry's eventual scale, not the batch's — a fixed df cap gets
relatively stricter as the registry grows (measured: audio recall
0.9→0.6 at max_df_hash=5 with a ~360-clip registry of degenerate
synthetic tones; 1.0 throughout at 20).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.jobs.txlog import TxTable
from nfl_data_pipeline_spark.operators.dedup import (
    cap_hot_values,
    gate_verdicts,
    hamming_chunk_rows,
    probe_candidates,
    register_kept,
)
from nfl_data_pipeline_spark.operators.multimodal import (
    WAV_MIMES,
    audio_fingerprints,
    auto_min_matches,
    capped_fingerprints,
    image_phash,
)

# Registry hash buckets — the manifest-pruning granularity of the
# partition-scoped probe. All rows of one probe key (chunk value /
# landmark hash) land in ONE bucket, so a probe that reads only the
# batch's touched buckets sees every
# possible match AND the exact per-key frequencies (the hot caps stay
# exact over the pruned slice). Stamped into the gate config — and
# DERIVED from the stamp for existing registries: the probe's bucket
# arithmetic must match the layout the registry was written under, or
# pruning silently drops true matches, so a table laid out under an
# older bucket count keeps probing at that count rather than failing
# the config check (re-layout via ``rebucket_media_registry``).
_NB = 64
# the module constant before bucket counts were stamped — registries
# whose stamp predates the "buckets" key were laid out at this value
_LEGACY_NB = 16


def _bucket_col(nb: int, *cols: str) -> "F.Column":
    """THE registry bucket formula — the single definition shared by
    both registry write paths and the probe's pruning set. The module
    comment's warning is structural: probe arithmetic that drifts from
    the written layout silently drops true matches, so no call site
    may inline its own copy. ``nb`` comes from the table's stamped
    gate config (``_resolve_buckets``), never the module constant
    directly."""
    return F.pmod(F.xxhash64(*cols), F.lit(nb)).cast("long")


def _touched_buckets(df: DataFrame, nb: int, *cols: str) -> set:
    """Distinct registry buckets this batch's probe keys hash to —
    the pruning set for ``TxTable.read(partitions=...)``. The collect
    is bounded at ``nb`` longs, never O(batch)."""
    return {
        r[0]
        for r in df.select(_bucket_col(nb, *cols).alias("b"))
        .distinct()
        .collect()
    }


def _resolve_buckets(table: TxTable, cfg: dict, what: str) -> int:
    """Pin the bucket count to the REGISTRY's layout and run the
    gate-config guard. Fresh tables stamp the current ``_NB``;
    existing tables probe at their stamped count (a bucket-count bump
    must never orphan a deployed registry — the r7 16→64 change broke
    every pre-existing stamp). A stamp that predates the "buckets"
    key is upgraded in place: those registries were provably laid out
    at the then-module-constant ``_LEGACY_NB`` (the value was not
    operator-supplied), so the metadata-only restamp records a fact,
    not a claim — unlike ``stamp_gate_config``'s operator assertion.
    Mutates ``cfg["buckets"]`` so the caller stamps the resolved
    value. Re-layout to a new count: ``rebucket_media_registry``."""
    from nfl_data_pipeline_spark.jobs.txlog import check_gate_config

    v = table.latest_version()
    stamped = table.meta(v).get("gate_config") if v is not None else None
    if stamped is not None and "buckets" not in stamped:
        table.commit(
            [],
            expected_version=v,
            meta={"gate_config": {**stamped, "buckets": _LEGACY_NB}},
        )
        stamped = {**stamped, "buckets": _LEGACY_NB}
    nb = stamped["buckets"] if stamped is not None else _NB
    cfg["buckets"] = nb
    check_gate_config(table, cfg, what)
    return nb


def _probe_read(
    table: TxTable,
    spark: SparkSession,
    batch_id: str,
    replay: bool,
    probe_df: DataFrame,
    key_cols: tuple,
    nb_head: int,
) -> DataFrame | None:
    """The registry slice a batch probes. Fresh batches read the
    current head, pruned to the buckets the batch's keys touch under
    the HEAD's stamped bucket count. REPLAYS read the snapshot
    immediately BEFORE the batch's own commit — otherwise the batch's
    registered rows inflate the per-key frequencies behind the
    registry-side hot caps, and a key sitting at the cap boundary is
    capped on replay but not on the original run (different verdicts
    for the same batch_id) — and the pruning set is recomputed under
    THAT snapshot's stamped bucket count: after a
    ``rebucket_media_registry`` migration the head's count does not
    describe the old snapshot's file layout, and pruning with it
    would silently drop true matches. When the pre-batch snapshot is
    no longer retained (vacuumed manifests / truncated batch ring)
    the probe falls back to the head — the one documented case where
    a replay's verdicts can differ under caps; size
    ``retain_versions`` to cover the replay window."""
    if replay:
        v0 = table.applied_version(batch_id)
        if v0 is not None and (v0 == 0 or table.has_version(v0 - 1)):
            if v0 == 0:
                return None  # the batch originally probed an empty registry
            pre_stamp = table.meta(v0 - 1).get("gate_config") or {}
            nb_pre = pre_stamp.get("buckets", _LEGACY_NB)
            pre_buckets = _touched_buckets(probe_df, nb_pre, *key_cols)
            if not pre_buckets:
                return None
            return table.read(spark, version=v0 - 1, partitions=pre_buckets)
    buckets = _touched_buckets(probe_df, nb_head, *key_cols)
    if not buckets:
        return None
    return table.read(spark, partitions=buckets)


def rebucket_media_registry(
    spark: SparkSession,
    table: TxTable,
    key_cols: list[str],
    target_buckets: int,
    what: str,
) -> int:
    """Migrate a media registry to a new bucket count in ONE pinned
    commit: rewrite every row with ``bucket`` recomputed over
    ``key_cols`` at ``target_buckets`` and swap the full live set +
    the updated stamp atomically (readers at the old version still see
    a consistent layout; a concurrent gate batch loses the
    ``expected_version`` race and retries against the new layout).
    Returns the new version. No-op (returns current) when the table
    is empty or already at ``target_buckets``."""
    v = table.latest_version()
    if v is None:
        return -1
    stamped = table.meta(v).get("gate_config") or {}
    if stamped.get("buckets") == target_buckets:
        return v
    df = table.read(spark, version=v)
    if df is None:
        return table.commit(
            [],
            expected_version=v,
            meta={"gate_config": {**stamped, "buckets": target_buckets}},
        )
    rewritten = df.withColumn(
        "bucket", _bucket_col(target_buckets, *key_cols)
    )
    adds = table.stage_files(rewritten, "bucket")
    old_parts = {f["partition"] for f in table.manifest(v)["files"]}
    return table.commit(
        adds,
        remove_partitions=old_parts,
        expected_version=v,
        meta={"gate_config": {**stamped, "buckets": target_buckets}},
    )


# ---- image gate ----------------------------------------------------------


class ImageDedupState:
    id_col = "doc_id"

    def __init__(self, root: str):
        self.chunks = TxTable(os.path.join(root, "chunks"))
        self.registries = (("chunks", self.chunks, ""),)


def process_image_batch(
    spark: SparkSession,
    media: DataFrame,
    state: ImageDedupState,
    batch_id: str,
    max_hamming: int = 10,
    max_bucket: int | None = None,
) -> DataFrame:
    """One media batch through the perceptual-image gate. Returns
    ``(doc_id, dup_of, keep)`` for every decodable image row (every
    mime in ``operators.multimodal.IMAGE_MIMES`` — PPM, PNG, JPEG and
    GIF since r10; the pHash is codec-invariant, so the same pixels
    dedup across formats) and registers the winners' chunk rows
    unless ``batch_id`` already applied (replay). The ``fp`` stamp
    stays ``phash_ppm/64``: the fingerprint FUNCTION is unchanged
    (r10 widened only the decode FRONT), so existing registries
    remain valid — with one documented widening of the replay
    contract: a replay of a pre-r10 batch that contained JPEG/GIF
    rows now yields verdict rows for them that the original run
    skipped as undecodable. Counts-only state is unaffected
    (fingerprints for the new rows merge idempotently), but a
    consumer that pinned the r9 verdict SET byte-for-byte should
    bump its own stamp when adopting the wider decode front.
    ``max_bucket`` is the hot-bucket defense of
    ``hamming_chunk_rows`` — boilerplate images (solid frames,
    repeated logos) share every chunk value and would otherwise
    explode the candidate self-join O(n²); it changes verdicts, so it
    rides the stamped config."""
    cfg = {
        "fp": "phash_ppm/64",
        "max_hamming": max_hamming,
        "max_bucket": max_bucket,
    }
    nb = _resolve_buckets(state.chunks, cfg, "image")
    replay = state.chunks.is_applied(batch_id)
    # pin the decode (the expensive Arrow pass); chunk rows re-derive
    # cheaply from it. The verdict base is fp, NOT chunks — a doc
    # whose every chunk lands in a capped hot bucket still gets its
    # (trivially kept) verdict row.
    fp = image_phash(media).localCheckpoint(eager=True)
    chunks = hamming_chunk_rows(
        fp, "doc_id", "phash", max_hamming, max_bucket
    )

    # partition-scoped probe: a registry row can only match a batch
    # chunk row on equal (chunk_id, chunk_val) — same bucket — so
    # reading only the batch's touched buckets is verdict-identical
    # to the full registry scan while the SCAN drops from O(registry)
    # to O(touched buckets). On REPLAY the probe reads the snapshot
    # BEFORE this batch's commit (time travel): the current head
    # contains the batch's own registered rows, which would inflate
    # the per-key counts the hot cap sees and could cap a key the
    # original run did not — verdicts must reproduce exactly.
    stored = _probe_read(
        state.chunks, spark, batch_id, replay,
        chunks, ("chunk_id", "chunk_val"), nb,
    )
    if stored is not None:
        # registry-side hot-value cap — the batch-side rule applied
        # to the stored rows too (all rows of a chunk value share a
        # bucket, so the count over the pruned slice is exact): a
        # value that went hot ACROSS batches stops generating
        # candidates instead of eroding the defense as the registry
        # grows. Verdict-changing like the batch cap, hence it rides
        # the same stamped max_bucket.
        stored = cap_hot_values(
            stored.select(
                F.col("doc_id").alias("_id"),
                F.col("fp").alias("_fp"),
                "chunk_id",
                "chunk_val",
            ),
            ["chunk_id", "chunk_val"],
            max_bucket,
        )
    ham = F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp")))
    cands = probe_candidates(
        chunks, stored, ["chunk_id", "chunk_val"], "_id",
        keep=ham <= max_hamming,
    )
    verdicts, losers = gate_verdicts(
        spark, fp.select("doc_id").distinct(), cands
    )
    new_rows = chunks.select(
        F.col("_id").alias("doc_id"),
        F.col("_fp").alias("fp"),
        "chunk_id",
        "chunk_val",
    )
    bucket = _bucket_col(nb, "chunk_id", "chunk_val")
    register_kept(
        [(state.chunks, new_rows, bucket, None)],
        losers.select("doc_id"),
        batch_id,
        cfg,
    )
    return verdicts


# ---- audio gate ----------------------------------------------------------


class AudioDedupState:
    id_col = "doc_id"

    def __init__(self, root: str):
        self.landmarks = TxTable(os.path.join(root, "landmarks"))
        self.registries = (("landmarks", self.landmarks, ""),)


def _offset_vote(a: DataFrame, b: DataFrame, min_matches: int) -> DataFrame:
    """Candidate rows ``(doc_a, doc_b, b_reg)`` of the audio gate: the
    batch landmarks ``a`` against ``b`` — the batch landmarks (``b_reg
    = 0``, kept ``id_a < id_b``) and the registry landmarks (``b_reg =
    1``) — joined on ``h``. A pair is an edge when it shares ≥
    ``min_matches`` DISTINCT landmark hashes at one consistent time
    offset (the same distinct-hash vote as the batch
    ``audio_near_dups`` — raw co-occurrence counting is degenerate on
    stationary content, see its docstring). A batch clip meeting its
    own registered landmarks is a membership row: one shared ``h`` is
    enough."""
    key = ["id_a", "id_b", "b_reg"]
    votes = (
        a.join(b, "h")
        .filter((F.col("b_reg") == 1) | (F.col("id_a") < F.col("id_b")))
        .groupBy(*key, (F.col("ta") - F.col("tb")).alias("offset"))
        .agg(F.countDistinct("h").alias("n_matches"))
    )
    best = Window.partitionBy(*key).orderBy(
        # ties across offsets happen on stationary spectra — prefer
        # the physically sensible smallest |offset| alignment
        F.desc("n_matches"), F.asc(F.abs("offset")), F.asc("offset")
    )
    return (
        votes.withColumn("_rk", F.row_number().over(best))
        .filter(
            (F.col("_rk") == 1)
            & (
                (F.col("n_matches") >= min_matches)
                | (F.col("id_a") == F.col("id_b"))
            )
        )
        .select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "b_reg"
        )
    )


def _resolve_min_matches(
    table: TxTable, min_matches: int | None
) -> int | None:
    """Stamp-side resolution of the audio verify threshold — NO batch
    work. An explicit int is the operator's choice (stamped as
    before). ``None`` resolves STAMP-FIRST — an existing registry
    keeps the threshold it was built under (verdicts must stay
    replay-identical; a deployed registry is never re-dialed
    implicitly) — and returns None only for a FRESH registry, where
    the caller derives the dial from the first batch's measured
    landmark density (``auto_min_matches`` — the r8 crosswalk: a
    fixed 8 was tuned on the degenerate sparse fixture and
    chain-merges rich content). A first-batch replay re-derives the
    same value: the density median is exact and the fingerprints are
    deterministic, and the stamp guard raises loudly on any mismatch
    rather than silently probing wrong.

    Content-drift caveat: the derived dial is pinned by the FIRST
    batch's content mix. If the stream's landmark density later
    shifts (rich→sparse loses true-dup recall — copies can't reach
    the threshold; sparse→rich re-admits chain-merging), the stamp
    does not follow it — that is the replay-exactness contract, not
    an oversight. Re-dial deliberately via ``redial_min_matches``
    (metadata-only restamp, future verdicts only)."""
    if min_matches is not None:
        return min_matches
    v = table.latest_version()
    stamped = table.meta(v).get("gate_config") if v is not None else None
    if stamped is not None and "min_matches" in stamped:
        return stamped["min_matches"]
    return None


def redial_min_matches(table: TxTable, new_value: int, what: str = "audio") -> int:
    """Deliberate operator re-dial of a deployed registry's verify
    threshold (the content-drift escape hatch): metadata-only restamp
    in one pinned commit. min_matches is a VOTE threshold, not a
    layout parameter — stored rows and buckets are untouched and
    remain probe-compatible; only FUTURE verdicts (and replays of
    batches committed after the restamp) use the new dial. Verdicts
    already committed were made under the old one — that history is
    path-dependent and is not rewritten. Returns the new version
    (-1 for an empty table: the next batch will stamp fresh)."""
    v = table.latest_version()
    if v is None:
        return -1
    stamped = table.meta(v).get("gate_config") or {}
    if stamped.get("min_matches") == new_value:
        return v
    return table.commit(
        [],
        expected_version=v,
        meta={"gate_config": {**stamped, "min_matches": new_value}},
    )


def process_audio_batch(
    spark: SparkSession,
    media: DataFrame,
    state: AudioDedupState,
    batch_id: str,
    min_matches: int | None = None,
    max_df_hash: int | None = None,
) -> DataFrame:
    """One media batch through the constellation audio gate. Returns
    ``(doc_id, dup_of, keep)`` for every decodable (WAV-mime) row and
    registers the winners' landmark rows unless ``batch_id`` already
    applied (replay). ``max_df_hash`` caps batch-side degenerate
    hashes (silence/tone boilerplate) before candidate generation.
    ``min_matches=None`` (default) sizes the verify threshold to the
    registry's stamp or, for a fresh registry, to the first batch's
    measured landmark density (``_resolve_min_matches``)."""

    def _cfg(mm: int) -> dict:
        # afp_hashes defaults — any change re-keys every hash; the
        # df cap changes which landmarks REGISTER (and thus future
        # votes), so it is part of the registry contract too
        return {
            "fp": "afp/wang2003",
            "frame": 512,
            "hop": 256,
            "peaks": 3,
            "fan_out": 3,
            "zone": 6,
            "min_matches": mm,
            "max_df_hash": max_df_hash,
        }

    min_matches = _resolve_min_matches(state.landmarks, min_matches)
    if min_matches is not None:
        # dial known (explicit or stamped): run the registry guard
        # BEFORE any batch work — a mismatched registry must raise
        # before the Arrow decode, not after (check_gate_config's
        # documented contract; review fix)
        _resolve_buckets(state.landmarks, _cfg(min_matches), "audio")
    fp = capped_fingerprints(audio_fingerprints(media), max_df_hash)
    if min_matches is None:
        # fresh registry: the density derivation needs the batch's
        # fingerprints first; the guard is vacuous (nothing stamped)
        min_matches = auto_min_matches(fp)
    cfg = _cfg(min_matches)
    nb = _resolve_buckets(state.landmarks, cfg, "audio")
    replay = state.landmarks.is_applied(batch_id)

    a = fp.select(F.col("doc_id").alias("id_a"), "h", F.col("t").alias("ta"))
    b = fp.select(
        F.col("doc_id").alias("id_b"), "h", F.col("t").alias("tb"),
        F.lit(0).alias("b_reg"),
    )
    # partition-scoped probe (see the image gate): landmark matches
    # are equi-joins on h, and every registry row of one h lives in
    # one bucket, so reading only the batch's touched buckets is
    # verdict-identical and the SCAN is O(touched buckets). Replay
    # probes the pre-batch snapshot for exact verdict reproduction
    # under the df cap (see the image gate).
    stored = _probe_read(
        state.landmarks, spark, batch_id, replay, fp, ("h",), nb
    )
    if stored is not None:
        # registry-side document-frequency cap — the batch-side rule
        # over the stored landmarks (per-h df over the pruned slice
        # is exact): a hash that went degenerate ACROSS batches stops
        # generating candidates. Rides the stamped max_df_hash.
        reg_rows = cap_hot_values(
            stored, ["h"], max_df_hash, distinct_col="doc_id"
        )
        b = b.unionByName(
            reg_rows.select(
                F.col("doc_id").alias("id_b"), "h", F.col("t").alias("tb"),
                F.lit(1).alias("b_reg"),
            )
        )

    # verdict base: every decodable WAV row, including clips whose
    # capped/empty fingerprint produced no landmarks (trivially kept)
    base_ids = (
        media.filter(F.col("media_meta.mime").isin(*sorted(WAV_MIMES)))
        .select("doc_id")
        .distinct()
    )
    verdicts, losers = gate_verdicts(
        spark, base_ids, _offset_vote(a, b, min_matches)
    )
    new_rows = fp.select("doc_id", "h", "t")
    register_kept(
        [(state.landmarks, new_rows, _bucket_col(nb, "h"), None)],
        losers.select("doc_id"),
        batch_id,
        cfg,
    )
    return verdicts
