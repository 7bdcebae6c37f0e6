"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding near-dup (driver north star; no reference analog).

Scale posture (the part that matters at 100 TB):

- Shingling/hashing/signatures are narrow per-row array ops — no
  shuffle, no global vocabulary (see hashing.py for why rolling-hash
  token ids replace a dense_rank vocab).
- Candidate generation is the only wide step, and it's always
  *banded*: docs meet only inside an LSH band bucket (MinHash) or a
  SimHash chunk bucket, never all-pairs. The bucket-join key
  distributes uniformly by construction (hash values), so no skew.
- Verification (exact Jaccard / Hamming) runs only on candidates.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.hashing import (
    MINHASH_PERMS,
    N_BANDS,
    P,
    SIMHASH_BITS,
    sp_shingle_ids,
    sp_token_hashes,
)
from nfl_data_pipeline_spark.operators.hints import gated_broadcast
from nfl_data_pipeline_spark.operators.relational import spread


def exact_dedup_keys(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest id per duplicate group.

    One hash-aggregate (map-side partial + shuffle on the group key).
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").cast("bigint").alias("n_copies"),
    )


def _texthash_engine() -> str:
    """Engine for the per-character text-hash folds: ``sql``
    (interpreted HOFs, the local default) or ``arrow`` (the
    exact-order numpy kernels in operators/arrowfold — bit-identical,
    pinned by tests/test_pair_kernel.py).

    Scale dial, not a correctness dial: at sf0.1 the SQL fold wins
    wall (the corpus is KB-per-task, so the ~0.2 s/task Python-runner
    cost exceeds the entire fold; measured 0.23 vs 0.43 s) while at
    corpus scale the per-character interpreter cost dominates and the
    kernel is the right engine (~25× per row, OPTIMIZATION_r13.md) —
    export SPARK_GRAFT_TEXTHASH_ENGINE=arrow there. Results are
    bit-identical either way, so registries and oracle hashes do not
    depend on the setting."""
    import os

    return os.environ.get("SPARK_GRAFT_TEXTHASH_ENGINE", "sql")


def with_shingle_ids(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """doc_id + distinct hashed word-n-gram shingle ids (narrow).

    Hash each token once, then compose shingle ids arithmetically —
    ~10× cheaper than hashing every shingle string (the HOF path is
    interpreted, so per-character work dominates). ``n`` threads into
    the Horner composition (default 3-grams, the oracle-pinned
    config). Engine per :func:`_texthash_engine`.
    """
    if _texthash_engine() == "arrow":
        from nfl_data_pipeline_spark.operators.arrowfold import (
            shingle_sids_udf,
        )

        return df.withColumn("sids", shingle_sids_udf(n)(F.col(text_col)))
    t = df.withColumn("tokens", F.split(F.col(text_col), " "))
    t = t.withColumn("th", F.expr(sp_token_hashes("tokens")))
    return t.withColumn(
        "sids", F.array_distinct(F.expr(sp_shingle_ids("th", n)))
    ).drop("th")


def _materialized_sids(
    df: DataFrame, text_col: str, n: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, sids) persisted.

    CRITICAL for plans that reference ``sids`` more than once (8
    minhash perms, 16 simhash bits, explode + size): Catalyst's
    CollapseProject inlines the whole shingle-hash expression into
    every reference — and into every *exploded output row* — turning
    a per-doc cost into a per-reference × per-row cost. The persist
    is the materialization barrier.

    The input is spread first: the per-character rolling hash is the
    expensive narrow step, and a single-file source would otherwise
    compute it on one core.

    Memoized on the input's semantic hash: the four near-dup
    operators (Jaccard, MinHash, SimHash, and the composed cleaning
    pipeline) all start from the same (doc_id, sids) — in a session
    that runs several of them over the same corpus (the bench, a
    dedup audit) the rolling hash is paid once, not per-operator.

    Cache contract: keyed by (sessionUUID, plan semanticHash, source
    file mtimes, args). sessionUUID is never recycled, so a recreated
    session can't collide with a dead one's entries. The mtime
    component catches the in-place rewrite the plan hash can't see
    (regenerated fixtures, overwritten partitions) — bounded at
    _MTIME_PROBE files, so a corpus with more files than that falls
    back to the plan-hash-only contract and a rewriting caller must
    call :func:`clear_sids_cache` (same contract as any warehouse
    buffer pool). The cache itself is LRU-bounded at _CACHE_MAX
    entries; evicted frames are unpersisted.
    """
    from nfl_data_pipeline_spark.catalog import session_uuid

    key = (
        session_uuid(df.sparkSession),
        df._jdf.queryExecution().analyzed().semanticHash(),
        _source_fingerprint(df),
        text_col,
        n,
        keep,
    )
    cached = _SIDS_CACHE.get(key)
    if cached is not None:
        _SIDS_CACHE[key] = _SIDS_CACHE.pop(key)  # refresh LRU position
        return cached
    out = (
        with_shingle_ids(spread(df), text_col, n)
        .select("doc_id", *keep, "sids")
        .persist()
    )
    _SIDS_CACHE[key] = out
    while len(_SIDS_CACHE) > _CACHE_MAX:
        _, old = _SIDS_CACHE.popitem(last=False)
        try:
            old.unpersist()
        except Exception:
            pass
    return out


_MTIME_PROBE = 64
_CACHE_MAX = 16


def _source_fingerprint(df: DataFrame) -> tuple:
    """(path, mtime_ns) of up to _MTIME_PROBE local source files — the
    cheap staleness probe for in-place rewrites. Non-file sources (or
    listing failures) contribute nothing: the plan hash still scopes
    the entry."""
    import os
    from urllib.parse import urlparse

    try:
        files = sorted(df.inputFiles())[:_MTIME_PROBE]
    except Exception:
        return ()
    fp = []
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("file", ""):
            continue
        try:
            fp.append((p.path, os.stat(p.path).st_mtime_ns))
        except OSError:
            fp.append((p.path, -1))
    return tuple(fp)


_SIDS_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()

# Scratch persists (band/chunk tables pinned across a self-join) are
# NOT auto-collected: Dataset.persist lives in the CacheManager until
# an explicit unpersist, so repeated operator calls in a long session
# would otherwise accumulate dead cached tables. A small FIFO evicts
# the oldest — by the time an operator is invoked again, its previous
# call's scratch table is no longer useful.
_SCRATCH_MAX = 8
_SCRATCH_PERSISTS: "list[DataFrame]" = []


def scratch_persist(df: DataFrame) -> DataFrame:
    """persist() with bounded session lifetime (see note above)."""
    out = df.persist()
    _SCRATCH_PERSISTS.append(out)
    while len(_SCRATCH_PERSISTS) > _SCRATCH_MAX:
        old = _SCRATCH_PERSISTS.pop(0)
        try:
            old.unpersist()
        except Exception:
            pass
    return out


def clear_sids_cache() -> None:
    """Unpersist and drop all memoized shingle-id materializations
    and scratch persists. Required after mutating source data behind
    a cached plan."""
    for df in _SIDS_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    _SIDS_CACHE.clear()
    for df in _SCRATCH_PERSISTS:
        try:
            df.unpersist()
        except Exception:
            pass
    _SCRATCH_PERSISTS.clear()


def with_minhash_signature(
    df_sids: DataFrame, perms: list[tuple[int, int]] | None = None
) -> DataFrame:
    """MinHash signature columns mh0..mhK-1 (narrow); default = the
    8-permutation demo signature, callers needing a sharper estimator
    or wider banding pass their own constants (e.g.
    hashing.gate_minhash_perms)."""
    use = MINHASH_PERMS if perms is None else perms
    if _texthash_engine() == "arrow":
        from nfl_data_pipeline_spark.operators.arrowfold import (
            minhash_signature_arrow,
        )

        return minhash_signature_arrow(df_sids, use)
    # one withColumns, not a withColumn per permutation: each
    # withColumn re-analyzes the whole growing plan on the driver
    return df_sids.withColumns(
        {
            f"mh{i}": F.expr(
                f"array_min(transform(sids, x -> ({a} * x + {b}) % {P}))"
            )
            for i, (a, b) in enumerate(use)
        }
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    bands of 2 rows each: docs whose signature agrees on any full band
    become candidates. The self-join key (band_id, h_lo, h_hi) is
    uniform → no skew; distinct() collapses multi-band hits.
    """
    sig = with_minhash_signature(_materialized_sids(df, text_col, n)).select(
        "doc_id", *[f"mh{i}" for i in range(len(MINHASH_PERMS))]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.col(f"mh{2 * bi}").alias("h_lo"),
                        F.col(f"mh{2 * bi + 1}").alias("h_hi"),
                    )
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.*")
    # self-join below would recompute the signature lineage twice
    bands = scratch_persist(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.h_lo") == F.col("b.h_lo"))
            & (F.col("a.h_hi") == F.col("b.h_hi"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold.

    Candidate generation by inverted index on shingle id (explode →
    self-equi-join on sid) — the classic similarity-join; the group-by
    on (doc_a, doc_b) counts intersections; set sizes join back in.
    Jaccard is integer-exact: |∩| / (|A| + |B| - |∩|).

    ``max_df`` is the web-scale skew defense: a shingle appearing in
    more than ``max_df`` fraction of documents (stop-word n-grams —
    'one of the', boilerplate headers) makes its ``sid`` a hot join
    key whose posting list self-joins quadratically; at corpus scale
    one such shingle in 10% of 1B docs is a 10^16-pair bucket.
    Capping document frequency drops those sids from the index before
    the join (standard similarity-join prefix filtering; hot shingles
    carry ~zero similarity signal precisely because they're
    everywhere). With a cap the reported jaccard is a lower bound —
    intersections lose the dropped shingles but set sizes keep them —
    so near-dup pairs sharing mostly-rare shingles are unaffected
    while candidate counts stay bounded (asserted with a planted hot
    shingle in tests). None = exact semantics, no extra pass.
    """
    sids = _materialized_sids(df, text_col, n)
    posting = sids.select(
        "doc_id",
        F.size("sids").alias("n_sids"),
        F.explode("sids").alias("sid"),
    )
    if max_df is not None:
        n_docs = sids.agg(F.count("*").alias("__n_docs"))
        hot = (
            posting.groupBy("sid")
            .agg(F.count("*").alias("__df"))
            .join(F.broadcast(n_docs))
            .filter(F.col("__df") > max_df * F.col("__n_docs"))
            .select("sid")
        )
        # the hot set is tiny by construction → broadcast anti-join
        posting = posting.join(F.broadcast(hot), "sid", "left_anti")
    a = posting.alias("a")
    b = posting.alias("b")
    # size-compatibility prefilter (PPJoin family): J(A,B) ≤ min/max
    # set sizes, so jaccard ≥ t requires min(na,nb) ≥ t·max(na,nb) —
    # pairs failing it are dropped INSIDE the join, before the
    # (doc_a, doc_b) aggregation shuffle ever sees their expanded
    # rows. Result-identical (the jaccard filter below would drop
    # them anyway); at web scale heterogeneous doc lengths make this
    # far more selective than on the length-uniform fixture (measured
    # 1.23 → 0.84 s at sf0.1, r12).
    size_ok = (
        F.col("b.n_sids") >= F.lit(threshold) * F.col("a.n_sids")
    ) & (F.col("a.n_sids") >= F.lit(threshold) * F.col("b.n_sids"))
    inter = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sids").alias("na"),
            F.col("b.n_sids").alias("nb"),
        )
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return inter.filter(jac >= threshold).select(
        "doc_a", "doc_b", jac.alias("jaccard")
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    with_bands: bool = False,
    bands: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """64-bit SimHash over shingle ids (width doubles as the LSH band
    key space — see hashing.SIMHASH_BITS for why 16 bits cannot
    scale).

    Plan shape: explode the shingle array and hash-aggregate 64 vote
    sums per doc instead of evaluating 64 interpreted ``aggregate``
    lambdas per row — the per-sid vote expressions stay inside
    whole-stage codegen and the shuffle carries only partial sums
    (map-side combine), so it's both faster locally and the right
    shape for a 100 TB corpus. ``explode_outer`` keeps empty docs
    (sum of no votes = 0 → all bits 0, same as the fold).

    ``with_bands`` adds the SIMHASH_BANDS values as ``band0..band2``,
    computed from the votes directly — never by shifting the composed
    (signed) word, which sign-extends differently across engines.
    """
    from nfl_data_pipeline_spark.operators.hashing import (
        SIMHASH_BANDS,
        simhash_bit_weight,
    )

    bands = SIMHASH_BANDS if bands is None else bands
    sids = _materialized_sids(df, text_col, n)
    exploded = sids.select(
        "doc_id", F.explode_outer("sids").alias("x")
    )
    votes = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.col("x").isNotNull(),
                    ((F.col("x") * a + b) % P) % 2 * 2 - 1,
                ).otherwise(0)
            ).alias(f"v{j}")
            for j, (a, b) in enumerate(SIMHASH_BITS)
        ]
    )
    bit_terms = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({simhash_bit_weight(j)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(len(SIMHASH_BITS))
    )
    out = votes.withColumn("simhash", F.expr(bit_terms).cast("bigint"))
    if with_bands:
        for bi, (off, width) in enumerate(bands):
            band = " + ".join(
                f"(CASE WHEN v{off + k} > 0 THEN {1 << k} ELSE 0 END)"
                for k in range(width)
            )
            out = out.withColumn(f"band{bi}", F.expr(band).cast("bigint"))
    return out.drop(*[f"v{j}" for j in range(len(SIMHASH_BITS))])


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Banded per hashing.SIMHASH_BANDS (3 bands over 64 bits;
    pigeonhole: ≤2 flipped bits leave at least one band identical), so
    candidates meet in 21-22-bit band buckets, never all-pairs. Band
    values are derived from the bit votes, not from shifting the
    signed fingerprint.

    ``max_bucket`` is the hot-bucket defense (the banding analog of
    ngram_jaccard's ``max_df``): a band value shared by more than
    ``max_bucket`` docs — a boilerplate/spam cluster — is dropped from
    CANDIDATE GENERATION before the self-join, bounding the join at
    max_bucket²/2 per bucket. Pairs inside a dropped bucket are still
    found through their other two bands unless those are equally hot;
    a genuinely identical 10k-doc flood is deduplicated upstream by
    exact dedup, which is why capping here is sound.
    """
    from nfl_data_pipeline_spark.operators.hashing import simhash_bands

    layout = simhash_bands(max_hamming + 1)
    sh = with_simhash(df, text_col, with_bands=True, bands=layout).select(
        "doc_id", "simhash", *[f"band{b}" for b in range(len(layout))]
    )
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("chunk_id"),
                        F.col(f"band{b}").alias("chunk_val"),
                    )
                    for b in range(len(layout))
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.*")
    if max_bucket is not None:
        w = Window.partitionBy("chunk_id", "chunk_val")
        chunks = chunks.withColumn(
            "_bn", F.count("*").over(w)
        ).filter(F.col("_bn") <= max_bucket).drop("_bn")
    # same contract as minhash_lsh_pairs: the self-join would evaluate
    # the 64-vote aggregate once per side without this barrier
    chunks = scratch_persist(chunks)
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def hamming_chunk_rows(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    max_hamming: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pigeonhole bit-slices of a 64-bit fingerprint: ``(_id, _fp,
    chunk_id, chunk_val)`` — ``max_hamming + 1`` contiguous slices
    per fingerprint, so two fingerprints within ``max_hamming`` bits
    MUST agree on at least one whole slice. The probe-row primitive
    behind ``hamming_near_pairs`` and the incremental image gate
    (streaming/mediadedup.py)."""
    from nfl_data_pipeline_spark.operators.hashing import simhash_bands

    layout = simhash_bands(max_hamming + 1)
    fp = df.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    chunks = fp.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("chunk_id"),
                        F.expr(
                            f"shiftrightunsigned(_fp, {off}) & "
                            f"{(1 << width) - 1}"
                        ).alias("chunk_val"),
                    )
                    for b, (off, width) in enumerate(layout)
                ]
            )
        ).alias("ch"),
    ).select("_id", "_fp", "ch.*")
    return cap_hot_values(chunks, ["chunk_id", "chunk_val"], max_bucket)


def cap_hot_values(
    df: DataFrame,
    key_cols: list[str],
    cap: int | None,
    distinct_col: str | None = None,
) -> DataFrame:
    """Hot-bucket defense shared by candidate generators and the
    incremental gates' registry probes: DROP every row of any key
    whose row count (or ``distinct_col`` count, when given — the
    audio gates' document-frequency rule) exceeds ``cap`` — a value
    shared that widely is boilerplate, not evidence, and keeping a
    truncated sample would make candidate sets order-dependent.
    ``cap=None`` is a no-op. Deterministic: the verdict depends only
    on per-key counts, never on row order."""
    if cap is None:
        return df
    if distinct_col is None:
        w = Window.partitionBy(*key_cols)
        return (
            df.withColumn("_bn", F.count("*").over(w))
            .filter(F.col("_bn") <= cap)
            .drop("_bn")
        )
    ok = (
        df.groupBy(*key_cols)
        .agg(F.countDistinct(distinct_col).alias("_bn"))
        .filter(F.col("_bn") <= cap)
        .select(*key_cols)
    )
    return df.join(ok, key_cols)


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    max_hamming: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Generic banded Hamming self-join over ANY 64-bit fingerprint
    column (perceptual image hash, simhash computed elsewhere, ...):
    pairs with ``bit_count(a ^ b) ≤ max_hamming`` as ``(id_a, id_b,
    hamming)``. Same pigeonhole shape as ``simhash_near_pairs`` —
    ``max_hamming + 1`` contiguous bit-slices, candidates meet in
    band buckets (never all-pairs), ``max_bucket`` is the hot-bucket
    defense — but the fingerprint arrives precomputed, so the bands
    are unsigned bit-slices of the int64 itself."""
    chunks = hamming_chunk_rows(df, id_col, fp_col, max_hamming, max_bucket)
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def registry_winner_verdicts(
    spark,
    base_ids: DataFrame,
    edges: DataFrame,
    reg_nodes: DataFrame | None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared winner-resolution tail of every incremental dedup gate
    (text MinHash / embedding / image / audio): connected components
    over the verified ``(doc_a, doc_b)`` edges, winner = the
    component's REGISTRY member when one exists (first-arrival-wins
    across batches, ``reg_nodes`` columns ``(doc_id, _reg)``; only
    ``_reg == 1`` rows are members), else
    the min batch id; returns one ``(id_col, dup_of, keep)`` verdict
    row per ``base_ids`` row, checkpointed so the caller can mutate
    the registry afterwards. One definition so a change to winner
    selection can never diverge across the four gates."""
    from pyspark.sql import types as T

    from nfl_data_pipeline_spark.operators.localframe import local_frame

    dedup_edges = edges.distinct()
    uf = _union_find_rows(dedup_edges)
    if uf is not None:
        # Driver path (r13): the union-find already holds every
        # (node, component) on the driver, so winner resolution is
        # Python arithmetic — the old plan re-entered Spark for a
        # registry-wide left join + a per-component groupBy + two more
        # joins inside the checkpoint job. Registry membership of the
        # component nodes (the only fact Spark must supply) comes from
        # ONE bounded semi-join: |comp nodes| ≤ 2·|edges|, broadcast
        # against the registry with NO exchange of the registry side.
        # Membership is ``_reg == 1``, the fallback's contract.
        comp_rows, node_t = uf
        reg_hits: set = set()
        if reg_nodes is not None and comp_rows:
            nodes_f = local_frame(
                spark,
                [(n,) for n, _ in comp_rows],
                T.StructType([T.StructField("doc_id", node_t)]),
            )
            reg_hits = {
                r[0]
                for r in reg_nodes.filter(F.col("_reg") == 1)
                .join(F.broadcast(nodes_f), "doc_id")
                .select("doc_id")
                .collect()
            }
        by_comp: dict = {}
        for n, c in comp_rows:
            cur = by_comp.setdefault(c, [None, c])
            if n in reg_hits and (cur[0] is None or n < cur[0]):
                cur[0] = n
        vrows = [
            (n, by_comp[c][0] if by_comp[c][0] is not None else c)
            for n, c in comp_rows
            if n not in reg_hits
        ]
        vmap = local_frame(
            spark,
            vrows,
            T.StructType(
                [
                    T.StructField(id_col, node_t),
                    T.StructField("dup_of", node_t),
                ]
            ),
        )
        out = base_ids.join(F.broadcast(vmap), id_col, "left")
    else:
        # the bounded collect above already found the edge set too
        # large for the driver: go straight to the distributed path
        comps = _distributed_components(dedup_edges)
        if reg_nodes is None:
            from nfl_data_pipeline_spark.operators.localframe import (
                empty_frame,
            )

            reg_nodes = empty_frame(spark, "doc_id long, _reg int")
        labeled = comps.join(
            reg_nodes, comps["node"] == reg_nodes["doc_id"], "left"
        ).select(
            "node", "component", F.coalesce("_reg", F.lit(0)).alias("_reg")
        )
        winners = labeled.groupBy("component").agg(
            F.coalesce(
                F.min(F.when(F.col("_reg") == 1, F.col("node"))),
                F.min("node"),
            ).alias("winner")
        )
        verdict_in_comp = (
            labeled.join(winners, "component")
            .filter(F.col("_reg") == 0)  # verdicts: batch docs only
            .select(
                F.col("node").alias(id_col),
                F.col("winner").alias("dup_of"),
            )
        )
        out = base_ids.join(verdict_in_comp, id_col, "left")
    return (
        out.select(
            id_col,
            F.coalesce("dup_of", F.col(id_col)).alias("dup_of"),
        )
        .withColumn(
            "keep", (F.col("dup_of") == F.col(id_col)).cast("int")
        )
        .localCheckpoint(eager=True)  # pin before the registry mutates
    )


def _union_find_rows(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    driver_max_pairs: int = 1_000_000,
):
    """Driver-side union-find over the edge frame when it fits
    (``connected_components``' fast path, shared with the gate tail so
    ``registry_winner_verdicts`` can resolve winners in Python).

    Returns ``(rows, node_type)`` with ``rows = [(node, component)]``
    (component = min reachable id), or ``None`` when the edge set
    exceeds ``driver_max_pairs``. One bounded collect decides both:
    the edges fit iff at most ``driver_max_pairs`` rows come back.
    ``pairs`` is not persisted: on the common (fitting) path a cache
    adds a job and nothing reads it again, and a too-large edge set
    goes to ``_distributed_components``, which persists its input
    itself."""
    rows = pairs.select(a_col, b_col).limit(driver_max_pairs + 1).collect()
    if len(rows) > driver_max_pairs:
        return None
    node_t = pairs.schema[a_col].dataType
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root → root == component id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent], node_t


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    driver_max_pairs: int = 1_000_000,
) -> DataFrame:
    """Collapse a pair graph into components: (node, component) where
    component = min node id reachable — the step that turns near-dup
    PAIRS into dedup CLUSTERS (keep min-id per cluster, drop the
    rest).

    Hybrid execution, the production dedup shape: the EDGE set of a
    near-dup graph is orders of magnitude smaller than the corpus
    (pairs are the post-threshold survivors), so when it fits the
    driver (≤ ``driver_max_pairs``, ~16 MB per million pairs) a
    driver-side union-find answers in one collect — no iterative
    shuffles at all. Only a genuinely huge edge set takes the
    distributed path: iterative min-label propagation, a driver-side
    loop of joins/aggs (SURVEY §4's 'iterative fixed point' pattern):

        label(v) ← min(label(v), min over neighbors u of label(u))

    until no label changes — ≤ diameter iterations; near-dup cluster
    diameters are tiny (chains of pairwise-similar docs). Each
    iteration is one shuffle on node id; ``localCheckpoint`` cuts the
    growing lineage. (At web scale the same loop with the large-star/
    small-star edge rewrites [Kiveris et al., Connected Components in
    MapReduce] converges in O(log n) rounds; the per-round plan shape
    here is identical.) Both paths return identical labels (asserted
    in tests): union-by-min-root makes each union-find root the min
    id of its component.
    """
    uf = _union_find_rows(pairs, a_col, b_col, driver_max_pairs)
    if uf is not None:
        out_rows, node_t = uf
        spark = pairs.sparkSession
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("node", node_t), T.StructField("component", node_t)]
        )
        # Arrow-backed local frame (r13): the r12 eager checkpoint of
        # the pickled-parallelize frame still re-entered a Python
        # worker on every scan (~0.1-0.3 s of executor time per task
        # per action); the Arrow construction is pure JVM at execution
        # and needs no checkpoint at all (driver data, deterministic).
        from nfl_data_pipeline_spark.operators.localframe import (
            local_frame,
        )

        return local_frame(spark, out_rows, schema)
    return _distributed_components(pairs, a_col, b_col)


def _distributed_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """``connected_components``' distributed path: iterative
    min-label propagation (see its docstring)."""
    pairs = pairs.persist()

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # the eager checkpoint scanned all of edges → its cache is fully
    # populated and the pairs input is no longer needed
    pairs.unpersist()
    while True:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        # ONE action per round: the change flag rides along in the
        # lazily-checkpointed frame, and the convergence probe both
        # materializes it and reads the flag
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("nbr_min", F.col("component"))
                    < F.col("component")
                ).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter("__changed").limit(1).count()
        labels = stepped.drop("__changed")
        if changed == 0:
            break
    edges.unpersist()
    return labels


def exact_substring_pairs(
    docs: DataFrame,
    w: int = 8,
    min_run: int = 2,
    max_df: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr duplication (Lee et al. 2022): document pairs
    sharing a verbatim run of ≥ w + min_run − 1 consecutive tokens,
    with the longest shared span per pair.

    Mechanics (all integer-exact, DuckDB-reproducible — the
    `dedup_exact_substring` query pins the oracle): token hashes →
    polynomial ids of every w-token window → df-cap (windows in more
    than ``max_df`` docs are boilerplate and would explode the seed
    join quadratically — standard prefix filtering) → seed join on
    window id → consecutive windows collapse into runs per (pair,
    diagonal) via the islands-and-gaps trick.

    Scale posture: the posting list and the df-capped hits are each
    materialized once (multi-consumer subtrees — SCALING.md round-2
    finding); the seed join's fan-in is bounded by ``max_df``; the
    run-collapse window is keyed by (pair, diagonal) — fine-grained,
    skew-free.
    """
    from nfl_data_pipeline_spark.operators.hashing import A, P

    sp_windows = (
        f"CASE WHEN size(th) < {w} THEN array() "
        f"ELSE transform(sequence(0, size(th) - {w}), i -> "
        f"aggregate(slice(th, i + 1, {w}), cast(0 as bigint), "
        f"(s, h) -> (s * {A} + h) % {P})) END"
    )
    th_t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"transform(split({text_col}, ' '), t -> "
            f"aggregate(transform(split(t, ''), c -> cast(ascii(c) as bigint)), "
            f"cast(0 as bigint), (h, c) -> (h * 31 + c) % {P}))"
        ).alias("th"),
    )
    win = (
        th_t.select(
            "doc_id",
            F.posexplode(F.expr(sp_windows)).alias("pos0", "sid"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "sid")
        .localCheckpoint()
    )
    df_ok = (
        win.groupBy("sid")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd").between(2, max_df))
        .select("sid")
    )
    # size-gated: the shared-shingle set grows with duplicated
    # content — forced broadcast would abort (not degrade) past 8 GB
    # on a web-scale corpus (r9 verdict finding #2). materialize=True:
    # df_ok's lineage is a window+groupBy over the shingled corpus and
    # the downstream hits frame is immediately localCheckpointed, so
    # the stats-blinding concern of an un-materialized count does not
    # apply — without it the corpus aggregation ran TWICE (once for
    # the gate count, once into the checkpoint) (ADVICE r10)
    hits = win.join(
        gated_broadcast(df_ok, materialize=True), "sid"
    ).localCheckpoint()

    a = hits.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "sid"
    )
    b = hits.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "sid"
    )
    # the self-join's broadcast used to ride hits's carried plan
    # statistics; materializing df_ok defaults those stats and the
    # join silently fell to sort-merge (r11 plan test caught it).
    # Make the decision explicit AND size-gated instead: the count is
    # a cheap scan of the already-checkpointed hits, and above the
    # gate the join degrades (hits grows with duplicated content —
    # the same hazard class as df_ok itself)
    pairs = (
        a.join(gated_broadcast(b), "sid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )
    # one exchange instead of three (r13): the old tail deduplicated
    # seed hits on (pair, diag, pa), windowed row_number per (pair,
    # diag) for the islands trick, then aggregated twice. collect_set
    # dedups INSIDE the (pair, diag) aggregate, array_sort replaces
    # the window sort, and one fold over the sorted positions yields
    # the longest consecutive run; run lengths sum to the distinct
    # position count per diagonal. Per-group state is bounded by one
    # document's window count (a diagonal cannot hold more shared
    # windows than the shorter document has windows).
    best_run = (
        "aggregate(ps, named_struct('prev', -2, 'run', 0, 'best', 0), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', IF(x = acc.prev + 1, acc.run + 1, 1), "
        "'best', GREATEST(acc.best, IF(x = acc.prev + 1, acc.run + 1, 1))"
        "), acc -> acc.best)"
    )
    by_diag = (
        pairs.groupBy("doc_a", "doc_b", "diag")
        .agg(F.array_sort(F.collect_set("pa")).alias("ps"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(best_run).alias("best_run"),
            F.size("ps").alias("n_pos"),
        )
    )
    return (
        by_diag.groupBy("doc_a", "doc_b")
        .agg(
            # cast keeps the r12 schema: count(*)-based run lengths
            # were bigint, the HOF fold is int
            (F.max("best_run").cast("long") + (w - 1)).alias(
                "max_span_tokens"
            ),
            F.sum("n_pos").cast("long").alias("shared_windows"),
        )
        .filter(F.col("max_span_tokens") >= w + min_run - 1)
    )


def assign_cluster_splits(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Leakage-safe split assignment: docs + a near-dup PAIR frame
    (from ANY generator — exact ``jaccard_pairs``, corpus-linear
    ``minhash_lsh_pairs``, ``simhash_pairs``, an embedding gate) →
    every doc tagged with its cluster id and a train/val/test split
    that is a pure function of the CLUSTER, so two near-duplicate
    documents can never straddle a split boundary.

    Plan: min-label components over the pair graph (|edges| <<
    corpus), SIZE-GATED broadcast label join back onto the corpus
    (the label table only contains docs that appear in a pair — tiny
    on a deduped-ish corpus, but proportional to duplicated content,
    so above the gate the join degrades to a shuffle instead of a
    forced-broadcast abort), singletons fall back to their own id,
    affine-mod split on the cluster id (operators/hashing.split_case
    — overflow-safe at any id magnitude). The corpus is never
    shuffled in the broadcast regime."""
    from nfl_data_pipeline_spark.operators.hashing import split_case

    labels = connected_components(pairs, a_col=a_col, b_col=b_col).select(
        F.col("node").alias(id_col), "component"
    )
    return (
        docs.join(gated_broadcast(labels), id_col, "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("component"), F.col(id_col))
        )
        .drop("component")
        .withColumn("split", F.expr(split_case("cluster_id")))
    )
