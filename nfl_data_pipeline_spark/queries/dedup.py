"""Dedup queries — exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding near-dup. Oracles are built programmatically from the same
hash constants the Spark operators use (operators/hashing.py), so
every candidate pair is integer-exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.operators import dedup as dd
from nfl_data_pipeline_spark.operators import similarity as sim
from nfl_data_pipeline_spark.operators.hashing import (
    A,
    MINHASH_PERMS,
    N_BANDS,
    P,
    SIMHASH_BITS,
    duck_dot,
    duck_shingle_ids,
    duck_token_hashes,
    split_case,
)
from nfl_data_pipeline_spark.queries import register

# Shared oracle CTE: doc_id + distinct hashed 3-gram shingle ids
# (token-hash-then-compose, mirroring operators/dedup.with_shingle_ids).
_SIDS_CTE = f"""
    sids_t AS (
      SELECT doc_id,
             list_distinct({duck_shingle_ids('th')}) AS sids
      FROM (SELECT doc_id,
                   {duck_token_hashes("string_split(text, ' ')")} AS th
            FROM documents)
    )
"""


@register(
    "dedup_exact",
    """
    SELECT user_id, event_type,
           CAST(MIN(event_id) AS BIGINT) AS keep_id,
           COUNT(*) AS n_copies
    FROM events
    GROUP BY user_id, event_type
    """,
    survey_ids=("NS-dedup", "A9", "S4"),
    doc="Exact dedup: hash-groupBy on the duplicate key, keep the "
    "lowest id — one partial-aggregated shuffle; the idempotent-append "
    "primitive of 2_scrape_new_games.R generalized.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return dd.exact_dedup_keys(e, ["user_id", "event_type"], "event_id")


def _jaccard_threshold() -> float:
    return 0.5


@register(
    "dedup_jaccard_pairs",
    f"""
    WITH {_SIDS_CTE},
    posting AS (
      SELECT doc_id, len(sids) AS n_sids, unnest(sids) AS sid FROM sids_t
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_sids AS na, b.n_sids AS nb, COUNT(*) AS n_inter
      FROM posting a JOIN posting b
        ON a.sid = b.sid AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, n_inter / (na + nb - n_inter) AS jaccard
    FROM inter
    WHERE n_inter / (na + nb - n_inter) >= {_jaccard_threshold()}
    """,
    survey_ids=("NS-dedup",),
    doc="Exact n-gram Jaccard near-dup pairs via inverted shingle "
    "index (explode → equi-join on shingle id → intersection counts). "
    "Integer-exact: |∩|/(|A|+|B|-|∩|).",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dd.jaccard_pairs(d, threshold=_jaccard_threshold())


def _minhash_pair_ctes() -> str:
    """MinHash signature -> LSH band -> candidate-pair CTE chain
    (defines `pairs` with doc_a/doc_b) -- shared by the pair query
    and the banded cluster-split oracle."""
    mh_cols = ", ".join(
        f"list_min(list_transform(sids, x -> ({a} * x + {b}) % {P})) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_id, mh{2 * bi} AS h_lo, "
        f"mh{2 * bi + 1} AS h_hi FROM sigs"
        for bi in range(N_BANDS)
    )
    # defines `pairs` (doc_a/doc_b) — consumed by the pair query AND
    # composed with _CLUSTER_TAIL_CTES in cluster_safe_split_banded
    return f"""
    sigs AS (SELECT doc_id, {mh_cols} FROM sids_t),
    bands AS ({band_selects}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.h_lo = b.h_lo AND a.h_hi = b.h_hi
       AND a.doc_id < b.doc_id
    )
    """


def _minhash_oracle() -> str:
    return f"""
    WITH {_SIDS_CTE},
    {_minhash_pair_ctes()}
    SELECT doc_a, doc_b FROM pairs
    """


@register(
    "dedup_minhash_lsh",
    _minhash_oracle(),
    survey_ids=("NS-dedup",),
    doc="MinHash(8 perms) + LSH banding (4 bands × 2 rows): candidate "
    "pairs agree on a full band. Shingle→id hashing is the rolling "
    "hash (no global vocabulary — partition-parallel at 100 TB); the "
    "band bucket join is uniform by construction.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(d)


def _simhash_oracle() -> str:
    from nfl_data_pipeline_spark.operators.hashing import (
        SIMHASH_BANDS,
        simhash_bit_weight,
    )

    vote_cols = ", ".join(
        f"list_sum(list_transform(sids, "
        f"x -> ((x * {a} + {b}) % {P}) % 2 * 2 - 1)) AS v{j}"
        for j, (a, b) in enumerate(SIMHASH_BITS)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({simhash_bit_weight(j)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(len(SIMHASH_BITS))
    )
    band_exprs = [
        " + ".join(
            f"(CASE WHEN v{off + k} > 0 THEN {1 << k} ELSE 0 END)"
            for k in range(width)
        )
        for off, width in SIMHASH_BANDS
    ]
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS chunk_id, "
        f"CAST({expr} AS BIGINT) AS chunk_val FROM sh"
        for b, expr in enumerate(band_exprs)
    )
    return f"""
    WITH {_SIDS_CTE},
    votes AS (SELECT doc_id, {vote_cols} FROM sids_t),
    sh AS (SELECT doc_id, *, CAST({bit_terms} AS BIGINT) AS simhash
           FROM votes),
    chunks AS ({chunk_selects})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """


@register(
    "dedup_simhash",
    _simhash_oracle(),
    survey_ids=("NS-dedup",),
    doc="64-bit SimHash near-dup pairs (Hamming ≤ 2), banded into 3 "
    "bands of 21-22 bits (pigeonhole: ≤2 flipped bits leave one band "
    "intact) — candidates meet in band buckets, never all-pairs. The "
    "width matters at scale: a 16-bit fingerprint gives 16 values per "
    "band, so buckets grow O(corpus) and the candidate join turns "
    "quadratic (measured 157 s at a 50k-doc tier vs seconds for "
    "64-bit); 2^21+ band values keep buckets near-singleton. "
    "simhash_near_pairs(max_bucket=...) adds the hot-bucket cap for "
    "spam clusters, pytest-gated.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    out = dd.simhash_near_pairs(d, max_hamming=2)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


def _near_dup_oracle(threshold: float, n_bits: int = 3) -> str:
    bucket = " + ".join(
        f"(CASE WHEN vec[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"""
    WITH v0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    v AS (
      SELECT vec_id, vec, SQRT({duck_dot('vec', 'vec')}) AS norm FROM v0
    ),
    b AS (SELECT vec_id, vec, norm, CAST({bucket} AS INTEGER) AS bucket FROM v)
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           {duck_dot('a.vec', 'c.vec')} / (a.norm * c.norm) AS cosine
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {duck_dot('a.vec', 'c.vec')} / (a.norm * c.norm) >= {threshold}
    """


@register(
    "dedup_embedding_cosine",
    _near_dup_oracle(0.4),
    survey_ids=("NS-dedup", "NS-sim"),
    doc="Embedding near-duplicate pairs (cosine ≥ threshold) bucketed "
    "by a sign-bit coarse quantizer; dot products are sequential folds "
    "over double-cast arrays → bit-identical across engines. The "
    "fixture embeddings are near-orthogonal (max pairwise cosine "
    "≈ 0.51), so the demo threshold is 0.4; production near-dup "
    "(threshold ≥ 0.9) uses the banded random-hyperplane LSH instead "
    "(operators/similarity.embedding_near_dups_banded — planted-pair "
    "recall + bucket bounds pinned in tests/test_embedding_lsh.py), "
    "whose collision probability (1-θ/π)^r is only selective at high "
    "cosine — below ~0.7 the sign quantizer is the honest fallback.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return sim.embedding_near_dups(e, threshold=0.4)


# ---- banded hyperplane LSH at production threshold -----------------------
# The fixture embeddings are near-orthogonal (max pairwise cosine
# ≈ 0.51), so a production-threshold (≥0.9) near-dup query over the
# raw table is vacuously empty. Both engines therefore derive the SAME
# augmented corpus: every vec_id % 3 == 0 vector gains a planted copy
# (id + 1_000_000) perturbed by a deterministic integer-lattice noise
# whose amplitude steps with vec_id — planted cosines land in
# ~[0.960, 0.996], straddling nothing below the 0.95 cut but spreading
# across it is exercised by the band-collided ORIGINAL pairs (cos ≤
# 0.51, all filtered identically bit-for-bit).

_BLSH_BAND_BITS = 8
_BLSH_N_BANDS = 4
_BLSH_DIM = 64
_BLSH_THRESHOLD = 0.95
_BLSH_PLANT_MOD = 3
_BLSH_ID_OFFSET = 1_000_000

# identical arithmetic, 0-based dim index k: v'[k] = v[k] + delta * noise
_BLSH_DELTA = "(0.006 + 0.004 * (CAST(vec_id % 12 AS DOUBLE) / 3.0))"
_SP_PERTURB = (
    "transform(vec, (v, i) -> v + "
    "(0.006 + 0.004 * (CAST(vec_id % 12 AS DOUBLE) / 3.0)) * "
    "CAST((vec_id * 31 + i * 17) % 7 - 3 AS DOUBLE))"
)
_DUCK_PERTURB = (
    f"list_transform(range(1, {_BLSH_DIM} + 1), i -> vec[i] + "
    f"{_BLSH_DELTA} * "
    "CAST((vec_id * 31 + (i - 1) * 17) % 7 - 3 AS DOUBLE))"
)


def _banded_oracle() -> str:
    """DuckDB mirror of embedding_near_dups_banded: the hyperplane
    weights are hash-derived constants (operators/hashing.py
    plane_weight = the exact Python mirror of Spark's murmur3
    ``hash(plane, d)``), inlined as literals; every projection is the
    same left-fold ``0.0 + v[0]*w0 + v[1]*w1 + ...`` so signs — and
    thus band buckets — are bit-identical across engines."""
    from nfl_data_pipeline_spark.operators.hashing import plane_weight

    def proj(p: int) -> str:
        terms = " + ".join(
            f"vec[{d + 1}] * ({plane_weight(p, d)!r})"
            for d in range(_BLSH_DIM)
        )
        return f"(0.0 + {terms})"

    def band_val(b: int) -> str:
        bits = " + ".join(
            f"(CASE WHEN {proj(b * _BLSH_BAND_BITS + j)} > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(_BLSH_BAND_BITS)
        )
        return f"CAST({bits} AS BIGINT)"

    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, vec, norm, {b} AS band_id, "
        f"{band_val(b)} AS band_val FROM v"
        for b in range(_BLSH_N_BANDS)
    )
    cos = f"{duck_dot('a.vec', 'b.vec')} / (a.norm * b.norm)"
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    planted AS (
      SELECT orig + {_BLSH_ID_OFFSET} AS vec_id, vec FROM (
        SELECT vec_id AS orig, {_DUCK_PERTURB} AS vec
        FROM base WHERE vec_id % {_BLSH_PLANT_MOD} = 0
      )
    ),
    corpus AS (
      SELECT * FROM base UNION ALL SELECT * FROM planted
    ),
    v AS (
      SELECT vec_id, vec, SQRT({duck_dot('vec', 'vec')}) AS norm
      FROM corpus
    ),
    bands AS ({band_selects})
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cos} AS cosine
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.vec_id < b.vec_id
    WHERE {cos} >= {_BLSH_THRESHOLD}
    """


def banded_fixture_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The augmented corpus both engines derive: originals plus
    deterministic planted near-dups."""
    e = load(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    planted = base.filter(
        F.col("vec_id") % _BLSH_PLANT_MOD == 0
    ).select(
        (F.col("vec_id") + _BLSH_ID_OFFSET).alias("vec_id"),
        F.expr(_SP_PERTURB).alias("vec"),
    )
    return base.unionByName(planted)


@register(
    "dedup_embedding_banded",
    _banded_oracle(),
    survey_ids=("NS-dedup", "NS-sim"),
    doc="Embedding near-dup pairs at PRODUCTION threshold (cosine ≥ "
    "0.95) via banded random-hyperplane LSH — 4 bands × 8 "
    "sign-of-projection bits, 2^8 buckets per band, so bucket size "
    "stays O(corpus/256) and the verify join never goes quadratic "
    "(the scale fix for the coarse 8-bucket sign quantizer that "
    "dedup_embedding_cosine demos at its 0.4 fixture threshold). "
    "Planes are murmur-derived constants: the oracle inlines the "
    "exact weights via the Python murmur3 mirror "
    "(operators/hashing.plane_weight), making buckets AND cosines "
    "bit-identical across engines. Planted-pair recall ≥0.9 and "
    "max-bucket bounds pinned in tests/test_embedding_lsh.py.",
)
def dedup_embedding_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = banded_fixture_corpus(spark, sf_dir)
    return sim.embedding_near_dups_banded(
        corpus,
        threshold=_BLSH_THRESHOLD,
        id_col="vec_id",
        vec_col="vec",
        band_bits=_BLSH_BAND_BITS,
        n_bands=_BLSH_N_BANDS,
        dim=_BLSH_DIM,
    )


def _corpus_clean_oracle() -> str:
    from nfl_data_pipeline_spark.operators.text import STOPWORDS

    stop_sql = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = "string_split(text, ' ')"
    return f"""
    WITH {_SIDS_CTE},
    quality AS (
      SELECT doc_id, source,
             0.4 * (CASE WHEN len({toks}) BETWEEN 20 AND 400
                    THEN 1.0 ELSE 0.0 END)
             + 0.4 * (len(list_distinct({toks}))
                      / CAST(len({toks}) AS DOUBLE))
             + 0.2 * ((len(list_filter({toks}, x -> x IN ({stop_sql})))
                       / CAST(len({toks}) AS DOUBLE)) * 5.0) AS q,
             len({toks}) AS n_tokens
      FROM documents
    ),
    posting AS (
      SELECT doc_id, len(sids) AS n_sids, unnest(sids) AS sid FROM sids_t
    ),
    dup_b AS (
      SELECT DISTINCT doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sids AS na, b.n_sids AS nb, COUNT(*) AS n_inter
        FROM posting a JOIN posting b ON a.sid = b.sid AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
      ) p WHERE n_inter / (na + nb - n_inter) >= 0.5
    )
    SELECT source,
           COUNT(*) AS n_docs,
           AVG(q) AS mean_quality,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM quality
    WHERE q >= 0.5 AND doc_id NOT IN (SELECT doc_b FROM dup_b)
    GROUP BY source
    """


@register(
    "corpus_clean_pipeline",
    _corpus_clean_oracle(),
    survey_ids=("NS-dedup", "NS-text"),
    doc="The composed training-data cleaning pipeline: quality-score "
    "filter → near-dup removal (drop the later doc of each Jaccard "
    "≥ 0.5 pair) → per-source corpus stats. One Catalyst plan chaining "
    "the text and dedup operators; oracle reproduces the whole chain.",
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.text import (
        stopword_count,
        with_tokens,
    )

    docs = load(spark, sf_dir, "documents")
    # quality_score() rounds for display; the pipeline filters on the
    # raw score, composed from the same token primitives
    t = with_tokens(docs)
    n = F.size("tokens").cast("double")
    raw_q = (
        0.4 * F.when((n >= 20) & (n <= 400), 1.0).otherwise(0.0)
        + 0.4 * (F.size(F.array_distinct("tokens")) / n)
        + 0.2 * ((stopword_count("tokens") / n) * 5.0)
    )
    scored = t.select(
        "doc_id", "source", raw_q.alias("q"), F.size("tokens").alias("n_tokens")
    )
    dup_b = (
        dd.jaccard_pairs(docs, threshold=0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    clean = scored.filter(F.col("q") >= 0.5).join(dup_b, "doc_id", "left_anti")
    return clean.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.avg("q").alias("mean_quality"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# Pair graph → min-reachable-label components (expects a `pairs`
# CTE with doc_a/doc_b to be defined upstream) — shared by every
# cluster-consuming oracle so they cannot drift on membership.
_CLUSTER_TAIL_CTES = """
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    ),
    clusters AS (
      SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY node
    )
"""

# Exact Jaccard pair generator (posting-list join, 0.5 gate) +
# cluster tail — used by dedup_clusters / cluster_safe_split /
# dedup_soft_weights (same reasoning as _SIDS_CTE).
_COMPONENT_CTES = f"""
    posting AS (
      SELECT doc_id, len(sids) AS n_sids, unnest(sids) AS sid FROM sids_t
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sids AS na, b.n_sids AS nb, COUNT(*) AS n_inter
        FROM posting a JOIN posting b ON a.sid = b.sid AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
      ) p WHERE n_inter / (na + nb - n_inter) >= 0.5
    ),
    {_CLUSTER_TAIL_CTES}
"""


def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SIDS_CTE},
    {_COMPONENT_CTES}
    SELECT doc_id, component FROM clusters
    """


@register(
    "dedup_clusters",
    _clusters_oracle(),
    survey_ids=("NS-dedup", "U6"),
    doc="Near-dup pairs collapsed into clusters (connected components "
    "of the Jaccard ≥ 0.5 graph; component id = min doc id) — the "
    "survivor-selection step of a real dedup pipeline. Spark: "
    "iterative min-label propagation (driver loop, one shuffle per "
    "round, localCheckpoint between). Oracle: DuckDB recursive CTE "
    "computing min reachable id.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, threshold=0.5)
    labels = dd.connected_components(pairs)
    return labels.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


_BENCH_SRC = "src0"

_SIDS_SRC_CTE = f"""
    sids_t AS (
      SELECT doc_id, source,
             list_distinct({duck_shingle_ids('th')}) AS sids
      FROM (SELECT doc_id, source,
                   {duck_token_hashes("string_split(text, ' ')")} AS th
            FROM documents)
    )
"""


@register(
    "benchmark_contamination",
    f"""
    WITH {_SIDS_SRC_CTE},
    bench AS (
      SELECT DISTINCT unnest(sids) AS sid
      FROM sids_t WHERE source = '{_BENCH_SRC}'
    ),
    cand AS (
      SELECT doc_id, len(sids) AS n_sids, unnest(sids) AS sid
      FROM sids_t WHERE source <> '{_BENCH_SRC}'
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           COUNT(*) / CAST(MAX(c.n_sids) AS DOUBLE) AS contamination,
           CASE WHEN COUNT(*) / CAST(MAX(c.n_sids) AS DOUBLE) >= 0.2
                THEN 1 ELSE 0 END AS is_contaminated
    FROM cand c JOIN bench b ON c.sid = b.sid
    GROUP BY c.doc_id
    """,
    survey_ids=("NS-dedup", "NS-text"),
    doc="Benchmark decontamination: per-document overlap of hashed "
    "word-3-gram shingles against a designated benchmark set (here "
    f"source='{_BENCH_SRC}' stands in for an eval suite) — the "
    "contamination filter every LLM training corpus needs before a "
    "benchmark is trusted. Scale shape: the benchmark side is tiny by "
    "contract (eval suites are KBs, the corpus is TBs), so its "
    "distinct shingle set is BROADCAST — the corpus is never "
    "shuffled for the probe; the only wide op is the per-doc "
    "(doc_id)-keyed count aggregate, with map-side partial counts. "
    "Shingles reuse the rolling-hash ids of the dedup family "
    "(operators/hashing.py), so the probe composes with the memoized "
    "(doc_id, sids) materialization when run in the same session as "
    "the dedup sweep.",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # memoized + persisted + spread (NOT the raw projection): without
    # the materialization barrier Catalyst inlines the per-character
    # rolling hash into every sids reference — size() AND explode()
    # here — and the probe runs the hash twice over the corpus on
    # whatever narrow layout the source has (measured 247 s vs ~7 s at
    # the 50k-doc tier)
    s = dd._materialized_sids(d, "text", 3, keep=("source",))
    bench = (
        s.filter(F.col("source") == _BENCH_SRC)
        .select(F.explode("sids").alias("sid"))
        .distinct()
    )
    cand = s.filter(F.col("source") != _BENCH_SRC).select(
        "doc_id",
        F.size("sids").alias("n_sids"),
        F.explode("sids").alias("sid"),
    )
    hits = cand.join(F.broadcast(bench), "sid")
    contamination = F.col("n_shared") / F.col("n_sids").cast("double")
    return (
        hits.groupBy("doc_id", "n_sids")
        .agg(F.count("*").alias("n_shared"))
        .select(
            "doc_id",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            contamination.alias("contamination"),
            F.when(contamination >= 0.2, 1).otherwise(0).alias("is_contaminated"),
        )
    )


_SD_K = 8  # floor for the adaptive rule (and the sf0.01 oracle value)
_SD_TAU = 0.4
# k = max(_SD_K, n // _SD_TARGET) IN BOTH ENGINES: with a fixed k the
# intra-cluster pairwise stage is n²/2k — quadratic in corpus size
# (measured 90 s at a 20k-vector tier vs linear growth with the
# adaptive rule). Must equal operators.similarity.TARGET_CLUSTER_SIZE
# so the query and the operator default agree.
_SD_TARGET = 512
_SD_DIST = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({v}) + 1), "
    "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i]))), (s, x) -> s + x)"
)


@register(
    "semantic_dedup",
    f"""
    WITH v AS (
      SELECT vec_id AS vid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vid) - 1 AS cid, vec AS cvec
      FROM (SELECT * FROM v ORDER BY vid LIMIT (SELECT GREATEST({_SD_K}, COUNT(*) // {_SD_TARGET}) FROM v))
    ),
    d1 AS (
      SELECT v.vid, v.vec, c0.cid,
             {_SD_DIST.format(v='v.vec', c='c0.cvec')} AS d2
      FROM v CROSS JOIN c0
    ),
    a1 AS (
      SELECT vid, vec, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, cid) rn
        FROM d1
      ) WHERE rn = 1
    ),
    ex AS (
      SELECT cid, unnest(vec) AS val,
             unnest(range(1, len(vec) + 1)) AS pos
      FROM a1
    ),
    mm AS (
      SELECT cid, pos,
             CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
      FROM ex GROUP BY cid, pos
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS cvec FROM mm GROUP BY cid),
    dd2 AS (
      SELECT v.vid, v.vec, c1.cid,
             {_SD_DIST.format(v='v.vec', c='c1.cvec')} AS d2
      FROM v CROSS JOIN c1
    ),
    a2 AS (
      SELECT vid, vec, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, cid) rn
        FROM dd2
      ) WHERE rn = 1
    ),
    nn AS (
      SELECT vid, vec, cid, sqrt({duck_dot('vec', 'vec')}) AS norm FROM a2
    ),
    drop_ids AS (
      SELECT DISTINCT b.vid AS b_id
      FROM nn a JOIN nn b ON a.cid = b.cid AND a.vid < b.vid
      WHERE {duck_dot('a.vec', 'b.vec')} / (a.norm * b.norm) >= {_SD_TAU}
    )
    SELECT a2.vid AS vec_id,
           CAST(a2.cid AS INTEGER) AS cluster_id,
           COUNT(*) OVER (PARTITION BY a2.cid) AS cluster_size,
           CASE WHEN a2.vid IN (SELECT b_id FROM drop_ids)
                THEN 0 ELSE 1 END AS is_kept
    FROM a2
    ORDER BY vec_id
    """,
    survey_ids=("NS-dedup", "NS-sim"),
    doc="SemDedup-style semantic deduplication: deterministic k-means "
    "(adaptive k = max(8, n/512), lowest-id init, one exact-DECIMAL Lloyd update, "
    "re-assign) partitions the embedding space; near-duplicates "
    f"(cosine ≥ {_SD_TAU}; fixture embeddings are near-orthogonal so "
    "the demo threshold sits below production's ≥0.95) are dropped "
    "WITHIN clusters only. The cluster bound is the scale story: the "
    "pairwise stage's fan-in is cluster size, never the corpus; "
    "assignment is two broadcast joins; the Lloyd update is one "
    "explode + (cid, pos) hash-agg with map-side combine. Every "
    "distance and centroid is fold/DECIMAL-exact, so the full "
    "decision table hash-matches the unrolled SQL oracle.",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    # k=None → the operator's adaptive rule max(_SD_K, n // 512); the
    # oracle SQL computes the SAME k via its LIMIT subquery, so the
    # hash gate holds at every scale factor, not just the one k was
    # tuned on
    out = sim.semantic_dedup(e, k=None, threshold=_SD_TAU)
    return out.orderBy("vec_id")


_ES_W = 8  # tokens per exact-substring window
_ES_MIN_RUN = 2  # >= 2 consecutive shared windows => span >= 9 tokens
_ES_MAX_DF = 16  # ignore windows present in more docs (prefix filter)


def _es_duck_windows() -> str:
    return (
        f"list_transform(range(1, len(th) - {_ES_W - 2}), i -> "
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_slice(th, i, i + {_ES_W - 1})), "
        f"(s, h) -> (s * {A} + h) % {P}))"
    )


@register(
    "dedup_exact_substring",
    f"""
    WITH th_t AS (
      SELECT doc_id, {duck_token_hashes("string_split(text, ' ')")} AS th
      FROM documents
    ),
    win AS (
      SELECT doc_id,
             unnest({_es_duck_windows()}) AS sid,
             unnest(range(1, len(th) - {_ES_W - 2})) AS pos
      FROM th_t
    ),
    df AS (
      SELECT sid FROM (
        SELECT sid, COUNT(DISTINCT doc_id) nd FROM win GROUP BY sid
      ) WHERE nd BETWEEN 2 AND {_ES_MAX_DF}
    ),
    hits AS (SELECT win.* FROM win JOIN df USING (sid)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, a.pos - b.pos AS diag
      FROM hits a JOIN hits b
        ON a.sid = b.sid AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, diag,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island,
             pa
      FROM (SELECT DISTINCT doc_a, doc_b, diag, pa FROM pairs)
    ),
    islands AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM runs GROUP BY doc_a, doc_b, diag, island
    )
    SELECT doc_a, doc_b,
           MAX(run_len) + {_ES_W - 1} AS max_span_tokens,
           CAST(SUM(run_len) AS BIGINT) AS shared_windows
    FROM islands
    GROUP BY doc_a, doc_b
    HAVING MAX(run_len) >= {_ES_MIN_RUN}
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("NS-dedup",),
    doc="Exact-substring duplication (the ExactSubstr pass of 'Dedup"
    "licating Training Data Makes Language Models Better', Lee et "
    f"al. 2022): document pairs sharing a verbatim run of ≥ "
    f"{_ES_W + _ES_MIN_RUN - 1} consecutive tokens, with the longest "
    "shared span reported per pair. MinHash/SimHash measure WHOLE-doc "
    "similarity and miss a long verbatim chunk pasted into an "
    "otherwise-different document; this operator catches exactly "
    "that. Mechanics: token hashes composed into polynomial ids of "
    f"every {_ES_W}-token window (one explode, integer-exact both "
    "engines), windows df-capped (prefix filtering — boilerplate "
    "present in many docs can't quadratically explode the join), "
    "then consecutive shared windows are collapsed per (pair, "
    "diagonal) with the islands-and-gaps trick: run length = count "
    "per (pos − row_number) island. The diagonal join is the "
    "standard seed-and-extend shape (BLAST-style) — fan-in bounded "
    "by per-window document frequency, never all-pairs.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dd.exact_substring_pairs(
        docs, w=_ES_W, min_run=_ES_MIN_RUN, max_df=_ES_MAX_DF
    ).orderBy("doc_a", "doc_b")


def _split_stats_oracle(pair_and_cluster_ctes: str) -> str:
    """Shared split tail: docs left-joined to `clusters` (from the
    given pair-generator CTE chain), singleton fallback, affine-mod
    split, per-split stats — so the exact and banded oracles cannot
    drift on the split arithmetic or the stats columns."""
    return f"""
    WITH RECURSIVE {_SIDS_CTE},
    {pair_and_cluster_ctes},
    assigned AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS cluster_id,
             len(string_split(d.text, ' ')) AS n_tokens
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    )
    SELECT {split_case("cluster_id")} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM assigned GROUP BY 1
    """


def _split_stats_spark(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared Spark split tail (twin of _split_stats_oracle)."""
    assigned = dd.assign_cluster_splits(
        d.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens")),
        pairs,
    )
    return (
        assigned.select("split", "cluster_id", "n_tokens")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def _cluster_split_oracle() -> str:
    return _split_stats_oracle(_COMPONENT_CTES)


@register(
    "cluster_safe_split",
    _cluster_split_oracle(),
    survey_ids=("NS-dedup", "NS-text"),
    doc="Leakage-safe train/val/test split: assignment is a pure "
    "function of the near-dup CLUSTER id (component = min reachable "
    "doc id; singletons are their own cluster), so two near-duplicate "
    "documents can NEVER straddle a split boundary -- the naive "
    "per-doc hash split leaks eval data through paraphrases, which "
    "benchmark-decontamination then has to catch after the fact. "
    "Spark plan: jaccard_pairs (banded posting-list join, no "
    "all-pairs) -> min-label components -> size-gated broadcast "
    "label join (the component table is |dup docs| << corpus on a "
    "deduped-ish intake; past the gate it degrades to a shuffle "
    "join, operators/hints.py) -> one stats agg. "
    "The split expression is shared verbatim with the oracle "
    "(operators/hashing.split_case) and reduces mod P before the "
    "multiply, so it cannot wrap int64 at any doc-id magnitude.",
)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # exact pair generator (tight-oracle form); the banded twin
    # below swaps ONLY the pair source, everything else shared
    return _split_stats_spark(d, dd.jaccard_pairs(d, threshold=0.5))


@register(
    "dedup_soft_weights",
    f"""
    WITH RECURSIVE {_SIDS_CTE},
    {_COMPONENT_CTES},
    sizes AS (
      SELECT component, COUNT(*) AS csize FROM clusters GROUP BY component
    ),
    assigned AS (
      SELECT d.source,
             len(string_split(d.text, ' ')) AS n_tokens,
             COALESCE(s.csize, 1) AS csize
      FROM documents d
      LEFT JOIN clusters c ON d.doc_id = c.doc_id
      LEFT JOIN sizes s ON c.component = s.component
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
           SUM(n_tokens / CAST(csize AS DOUBLE)) AS effective_tokens
    FROM assigned GROUP BY source
    """,
    survey_ids=("NS-dedup", "NS-text"),
    doc="Soft dedup weighting: instead of DROPPING near-duplicates, "
    "each document is down-weighted by 1/cluster_size, so a near-dup "
    "cluster contributes its average copy once — removes duplication "
    "bias while keeping every variant available to the sampler (the "
    "drop-based pipeline loses paraphrase diversity). Per-source "
    "report: raw vs effective token counts — the numbers a mixture "
    "re-weighting (token_budget_mixture) consumes. Spark plan: "
    "cluster sizes come from the LABEL table alone (|dup docs| << "
    "corpus on a deduped-ish intake, a tiny self-aggregate), joined "
    "back under a SIZE-GATED broadcast (operators/hints.py — the "
    "label table is proportional to duplicated content, so past the "
    "gate the join degrades to a shuffle instead of a forced-"
    "broadcast abort); singletons take weight 1 via coalesce WITHOUT "
    "ever joining; in the broadcast regime the corpus is never "
    "shuffled — the only wide op is the final per-source agg.",
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, threshold=0.5)
    labels = dd.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    sizes = labels.groupBy("component").agg(F.count("*").alias("csize"))
    lab_sized = labels.join(sizes, "component").select("doc_id", "csize")
    assigned = (
        d.select(
            "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
        )
        .join(dd.gated_broadcast(lab_sized), "doc_id", "left")
        .withColumn("csize", F.coalesce(F.col("csize"), F.lit(1)))
    )
    return assigned.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("raw_tokens"),
        F.sum(
            F.col("n_tokens") / F.col("csize").cast("double")
        ).alias("effective_tokens"),
    )


def _cluster_split_banded_oracle() -> str:
    return _split_stats_oracle(
        f"{_minhash_pair_ctes()},\n    {_CLUSTER_TAIL_CTES}"
    )


@register(
    "cluster_safe_split_banded",
    _cluster_split_banded_oracle(),
    survey_ids=("NS-dedup", "NS-text"),
    doc="cluster_safe_split's 100 TB path, driver-gated: the pair "
    "generator is the CORPUS-LINEAR MinHash-LSH banding (candidates "
    "meet in band buckets — no posting-list join whose output grows "
    "with sum df^2 like the exact variant's), composed through the "
    "same assign_cluster_splits operator: min-label components -> "
    "size-gated broadcast label join -> affine-mod split on the "
    "cluster id. The "
    "exact query stays as the tight-oracle form; this one proves the "
    "banded swap end-to-end against DuckDB too (band CTEs shared "
    "with dedup_minhash_lsh, cluster tail shared with "
    "dedup_clusters).",
)
def cluster_safe_split_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return _split_stats_spark(d, dd.minhash_lsh_pairs(d))


def _pps_cluster_oracle() -> str:
    from nfl_data_pipeline_spark.operators.sampling import offset_salt
    from nfl_data_pipeline_spark.operators.shuffle import (
        SHUFFLE_P,
        shuffle_params,
    )

    a, b = shuffle_params(_PPS_CL_SEED)
    s = offset_salt(_PPS_CL_SEED)
    return f"""
    WITH RECURSIVE {_SIDS_CTE},
    {_COMPONENT_CTES},
    docs AS (
      SELECT d.doc_id,
             GREATEST(CAST(LENGTH(d.text) AS BIGINT), 0) AS w,
             COALESCE(c.component, d.doc_id) AS cluster
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
      WHERE d.doc_id IS NOT NULL
    ),
    cl AS (SELECT cluster, SUM(w) AS cw FROM docs GROUP BY cluster),
    keyed AS (
      SELECT cluster, cw,
             ({a} * (cluster % {SHUFFLE_P}) + {b}) % {SHUFFLE_P} AS skey
      FROM cl
    ),
    cum AS (
      SELECT cluster, cw, skey,
             COALESCE(SUM(cw) OVER (
               ORDER BY skey, cluster
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb,
             SUM(cw) OVER () AS tw
      FROM keyed
    ),
    m AS (
      SELECT cluster,
             (CAST(cb + cw AS HUGEINT) * {_PPS_CL_K}
                + (2 * CAST(tw AS HUGEINT) - 1 - ({s} % tw)))
               // CAST(tw AS HUGEINT)
           - (CAST(cb AS HUGEINT) * {_PPS_CL_K}
                + (2 * CAST(tw AS HUGEINT) - 1 - ({s} % tw)))
               // CAST(tw AS HUGEINT) AS n_copies
      FROM cum
    )
    SELECT d.doc_id, d.cluster,
           CAST(d.w AS BIGINT) AS weight,
           CAST(m.n_copies AS BIGINT) AS n_copies
    FROM docs d JOIN m ON d.cluster = m.cluster
    WHERE m.n_copies >= 1
    ORDER BY d.doc_id
    """


_PPS_CL_SEED = 13
_PPS_CL_K = 60


@register(
    "pps_cluster_sample",
    _pps_cluster_oracle(),
    survey_ids=("NS-dedup", "NS-sampling"),
    doc="Leakage-safe weighted corpus sampling at CLUSTER "
    "granularity: the PPS comb (operators/sampling.py) draws "
    "near-dup CLUSTERS — weight = cluster token mass, singletons "
    "their own cluster — and every document of a drawn cluster ships "
    "with the cluster's multiplicity, so a sampled corpus can never "
    "split a near-dup family across inclusion/exclusion (the "
    "document-granular sampler can keep one paraphrase and drop its "
    "twin, leaking the family across dataset versions). Composition "
    "of two oracle-gated paths: the exact-jaccard cluster collapse "
    "(shared CTEs with dedup_clusters) and the exact-arithmetic "
    "comb; label join is SIZE-GATED broadcast (operators/hints.py), "
    "the k-draw multiplicity join back to the corpus stays a true "
    "broadcast (bounded k) — the corpus is never shuffled in the "
    "broadcast regime.",
)
def pps_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.sampling import (
        pps_systematic_sample,
    )

    d = load(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, threshold=0.5)
    labels = dd.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    docs = (
        d.filter(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.greatest(F.length("text").cast("long"), F.lit(0)).alias("w"),
        )
        .join(dd.gated_broadcast(labels), "doc_id", "left")
        .withColumn("cluster", F.coalesce("component", "doc_id"))
    )
    clusters = docs.groupBy("cluster").agg(F.sum("w").alias("cw"))
    drawn = pps_systematic_sample(
        clusters,
        k=_PPS_CL_K,
        weight_col="cw",
        seed=_PPS_CL_SEED,
        id_col="cluster",
        n_ranges=64,
    ).select("cluster", "n_copies")
    return (
        docs.join(F.broadcast(drawn), "cluster")
        .select(
            "doc_id",
            "cluster",
            F.col("w").alias("weight"),
            "n_copies",
        )
        .orderBy("doc_id")
    )


def _pps_cluster_banded_oracle() -> str:
    # identical comb/doc CTE stack; ONLY the pair source swaps to the
    # corpus-linear MinHash banding (the cluster_safe_split_banded
    # precedent: exact jaccard's posting join is superlinear by
    # contract — sum df^2)
    exact = _pps_cluster_oracle()
    return exact.replace(
        f"{_COMPONENT_CTES},",
        f"{_minhash_pair_ctes()},\n    {_CLUSTER_TAIL_CTES},",
    )


@register(
    "pps_cluster_sample_banded",
    _pps_cluster_banded_oracle(),
    survey_ids=("NS-dedup", "NS-sampling"),
    doc="pps_cluster_sample's 100 TB path: the cluster labels come "
    "from the CORPUS-LINEAR MinHash-LSH pair source instead of the "
    "exact posting-list join (superlinear by contract — sum df^2; "
    "the cluster_safe_split_banded precedent), composed through the "
    "same comb + size-gated label join + bounded-k multiplicity "
    "broadcast. Both forms oracle-gated; band CTEs shared with "
    "dedup_minhash_lsh.",
)
def pps_cluster_sample_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.sampling import (
        pps_systematic_sample,
    )

    d = load(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(d)
    labels = dd.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    docs = (
        d.filter(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.greatest(F.length("text").cast("long"), F.lit(0)).alias("w"),
        )
        .join(dd.gated_broadcast(labels), "doc_id", "left")
        .withColumn("cluster", F.coalesce("component", "doc_id"))
    )
    clusters = docs.groupBy("cluster").agg(F.sum("w").alias("cw"))
    drawn = pps_systematic_sample(
        clusters,
        k=_PPS_CL_K,
        weight_col="cw",
        seed=_PPS_CL_SEED,
        id_col="cluster",
        n_ranges=64,
    ).select("cluster", "n_copies")
    return (
        docs.join(F.broadcast(drawn), "cluster")
        .select(
            "doc_id", "cluster", F.col("w").alias("weight"), "n_copies"
        )
        .orderBy("doc_id")
    )
