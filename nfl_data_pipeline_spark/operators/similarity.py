"""Similarity search over an embedding column (array<float>) —
driver north star; no reference analog.

Baseline: brute-force cosine top-k (query set × candidate set).
Scale path: IVF-style coarse buckets (sign-bit quantizer) so each
query only scans its bucket — the candidate join key is the bucket
id, turning an all-pairs cross join into a hash join whose fan-in is
|bucket|, not |corpus|.

Dot products are sequential left folds over double-cast arrays so the
DuckDB oracle reproduces them bit-for-bit (see hashing.sp_dot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_data_pipeline_spark.operators.hashing import sp_dot


def with_norm(
    df: DataFrame, vec_col: str = "vec", dim: int | None = None
) -> DataFrame:
    return df.withColumn(
        "norm", F.sqrt(F.expr(sp_dot(vec_col, vec_col, dim)))
    )


from nfl_data_pipeline_spark.operators.relational import spread as _spread


def _prep(
    df: DataFrame, id_col: str, vec_col: str, alias: str, dim: int | None = None
) -> DataFrame:
    return with_norm(
        df.select(
            F.col(id_col).alias(f"{alias}_id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ),
        "vec",
        dim,
    ).select(
        f"{alias}_id",
        F.col("vec").alias(f"{alias}_vec"),
        F.col("norm").alias(f"{alias}_norm"),
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    engine: str = "sql",
) -> DataFrame:
    """Brute-force cosine top-k: exact, the correctness baseline.

    Broadcast the (small) query side; each candidate partition scores
    locally; a per-query window takes the top k with an id tiebreak.
    Pass ``dim`` for fixed-width embeddings to unroll the dot product
    into codegen (same fold order — see hashing.sp_dot).

    ``engine="arrow"`` scores the Q×C dots as one numpy einsum per
    Arrow batch instead of the interpreted SQL fold — the measured
    fast path for the verify-heavy regime (SCALING.md). Cosines can
    differ from the fold at the last ulp (different summation order),
    so adjacent ranks may swap on near-ties: the retrieved id-SET is
    the contract.

    NULL cosines follow the SQL engine on both engines: a NULL
    vector, a vector shorter than ``dim``, or (without ``dim``) a pair
    of unequal widths scores NULL; with ``dim`` only ``vec[:dim]`` is
    scored.
    """
    if engine not in ("sql", "arrow"):
        raise ValueError(
            f"unknown engine {engine!r}: expected 'sql' or 'arrow'"
        )
    q = F.broadcast(_prep(queries, id_col, vec_col, "q", dim))
    c = _spread(_prep(candidates, id_col, vec_col, "c", dim))
    if engine == "arrow":
        import numpy as np

        @F.pandas_udf("double")
        def _dot(av, bv):
            import pandas as pd

            n = len(av)
            av, bv = av.to_numpy(), bv.to_numpy()
            la = np.fromiter(
                (-1 if v is None else len(v) for v in av), np.int64, count=n
            )
            lb = np.fromiter(
                (-1 if v is None else len(v) for v in bv), np.int64, count=n
            )
            width = la if dim is None else np.full(n, dim)
            ok = (la >= 0) & (lb >= 0) & (la >= width) & (lb >= width)
            if dim is None:
                ok &= la == lb
            # NaN leaves through the Arrow mask as NULL — the SQL
            # fold's NULL for the rows scored nothing here
            out = np.full(n, np.nan)
            for d in np.unique(width[ok]):
                idx = np.flatnonzero(ok & (width == d))
                A = np.stack([v[:d] for v in av[idx]])
                B = np.stack([v[:d] for v in bv[idx]])
                out[idx] = np.einsum("ij,ij->i", A, B)
            return pd.Series(out)

        dot = _dot(F.col("q_vec"), F.col("c_vec"))
    else:
        dot = F.expr(sp_dot("q_vec", "c_vec", dim))
    cos = dot / (F.col("q_norm") * F.col("c_norm"))
    scored = q.join(c, F.col("q_id") != F.col("c_id")).withColumn(
        "cosine", cos
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "cosine")
    )


def sign_bucket(vec_col: str, n_bits: int = 3) -> F.Column:
    """IVF-style coarse quantizer: sign bits of the first n dims.

    A real deployment would use trained centroids; the quantizer
    contract (deterministic vec → small int) is identical.
    """
    terms = [
        f"(CASE WHEN {vec_col}[{i}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    ]
    return F.expr(" + ".join(terms)).cast("int")


def cosine_topk_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Bucketed ANN: score only candidates in the query's coarse
    bucket. Recall < 1 by design; at scale the join key (bucket)
    replaces the all-pairs fan-out."""
    q = F.broadcast(
        _prep(queries, id_col, vec_col, "q", dim).withColumn(
            "bucket", sign_bucket("q_vec", n_bits)
        )
    )
    c = _spread(_prep(candidates, id_col, vec_col, "c", dim)).withColumn(
        "bucket", sign_bucket("c_vec", n_bits)
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            F.expr(sp_dot("q_vec", "c_vec", dim))
            / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "bucket", "rank", "c_id", "cosine")
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold), bucketed
    by the coarse quantizer (near-dups almost surely share sign
    bits; threshold recall documented as approximate)."""
    c = _prep(df, id_col, vec_col, "c", dim).withColumn(
        "bucket", sign_bucket("c_vec", n_bits)
    )
    # spread only the probe leg; the build leg is broadcast whole
    a = _spread(c).select(
        F.col("c_id").alias("a_id"),
        F.col("c_vec").alias("a_vec"),
        F.col("c_norm").alias("a_norm"),
        "bucket",
    )
    b = c.select(
        F.col("c_id").alias("b_id"),
        F.col("c_vec").alias("b_vec"),
        F.col("c_norm").alias("b_norm"),
        "bucket",
    )
    cos = F.expr(sp_dot("a_vec", "b_vec", dim)) / (
        F.col("a_norm") * F.col("b_norm")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a_id").alias("vec_a"),
            F.col("b_id").alias("vec_b"),
            "cosine",
        )
    )


def brp_lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_tables: int = 3,
) -> DataFrame:
    """Stock-ML ANN path: pyspark.ml BucketedRandomProjectionLSH
    approxSimilarityJoin on euclidean distance (SURVEY §7 phase 6).

    Complements the exact/IVF cosine operators: this is the
    off-the-shelf scale path when euclidean semantics suffice. Not
    oracle-checkable (random hyperplanes live in the fitted model),
    so it ships as an operator + test, not a registry query.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    prep = lambda d: d.select(  # noqa: E731
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    base, q = prep(df), prep(queries)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=42,
    ).fit(base)
    joined = lsh.approxSimilarityJoin(q, base, float("inf"), distCol="dist")
    out = joined.select(
        F.col(f"datasetA.{id_col}").alias("q_id"),
        F.col(f"datasetB.{id_col}").alias("c_id"),
        "dist",
    ).filter(F.col("q_id") != F.col("c_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("c_id"))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "dist")
    )


def kmeans_ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained-centroid IVF ANN: k-means coarse quantizer (the real
    IVF, vs sign_bucket's hash stand-in), multi-probe search.

    Index: assign every vector to its nearest centroid (one narrow
    pass after a small k-means fit). Search: each query probes its
    ``n_probe`` nearest cells and scores only those candidates — the
    classic recall/cost dial. Scoring reuses the fold-exact cosine.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("arr"),
    ).withColumn("features", array_to_vector("arr"))
    km = KMeans(k=n_cells, seed=42, featuresCol="features").fit(feats)
    assigned = km.transform(feats).select(
        F.col(id_col).alias("c_id"),
        F.col("arr").alias("c_vec"),
        F.col("prediction").alias("cell"),
    )
    assigned = with_norm(assigned, "c_vec").withColumnRenamed("norm", "c_norm")

    # query → its n_probe nearest cells (centroids are tiny: crossJoin
    # against a broadcast literal table, rank by distance)
    centers = [(int(i), [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())]
    spark = df.sparkSession
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    cdf = local_frame(spark, centers, "cell int, center array<double>")
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    q = with_norm(q, "q_vec").withColumnRenamed("norm", "q_norm")
    qc = q.crossJoin(F.broadcast(cdf)).withColumn(
        "dist2",
        F.expr(
            "aggregate(zip_with(q_vec, center, (x, y) -> (x - y) * (x - y)), "
            "cast(0.0 as double), (s, v) -> s + v)"
        ),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("dist2").asc(), F.col("cell"))
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probe)
        .select("q_id", "q_vec", "q_norm", "cell")
    )

    scored = (
        F.broadcast(probes)
        .join(_spread(assigned), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            F.expr(sp_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "cosine")
    )


def fit_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
):
    """Train product-quantization codebooks on a bounded driver-side
    sample (index training is sample-based by construction — FAISS
    trains on ~1e5-1e6 vectors regardless of corpus size, so this
    stays O(sample) at 100 TB).

    Vectors are unit-normalized, split into ``m`` contiguous
    subvectors, and each subspace gets ``n_codes`` Lloyd-iterated
    centroids. Returns an (m, n_codes, dim/m) float64 ndarray.
    """
    sample = _normalized_sample(df, vec_col, sample_size)
    return _fit_books(sample, m, n_codes, iters, seed)


def _normalized_sample(df: DataFrame, vec_col: str, sample_size: int):
    import numpy as np

    frac_rows = df.select(F.col(vec_col).cast("array<double>").alias("v")).limit(
        sample_size
    )
    sample = np.array([r["v"] for r in frac_rows.collect()], dtype=np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    return sample / np.where(norms == 0, 1.0, norms)


def _fit_books(sample, m: int, n_codes: int, iters: int, seed: int):
    import numpy as np

    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        x = sample[:, j * sub : (j + 1) * sub]
        cent = x[rng.choice(len(x), size=n_codes, replace=len(x) < n_codes)]
        for _ in range(iters):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    cent[c] = x[mask].mean(0)
        books[j] = cent
    return books


def pq_encode_udf(books, rot=None):
    """Arrow-vectorized PQ encoder (unit-normalize → optional OPQ
    rotation → nearest subspace centroid per block) — the ONE encode
    definition shared by ``pq_topk`` and the versioned ANN index
    (streaming/annindex): codes written at index time and codes the
    ADC search assumes must come from identical arithmetic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(books, dtype=np.float64)
    rot = None if rot is None else np.asarray(rot, dtype=np.float64)
    m_, _n_codes, sub = books.shape

    # no type hints: under `from __future__ import annotations` string
    # hints can't be resolved by pandas_udf's inspector here
    @pandas_udf("array<int>")
    def encode(vs):
        x = np.array(vs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.where(norms == 0, 1.0, norms)
        if rot is not None:
            x = x @ rot
        out = np.empty((len(x), m_), dtype=np.int32)
        for j in range(m_):
            xs = x[:, j * sub : (j + 1) * sub]
            d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
            out[:, j] = d2.argmin(1)
        return pd.Series(list(out))

    return encode


def adc_table(q_vec, books, rot=None) -> list:
    """Flattened row-major (m × n_codes) subvector-distance table for
    one query — the asymmetric-distance lookup ``pq_topk`` and the
    versioned index's PQ search both broadcast."""
    import numpy as np

    books = np.asarray(books, dtype=np.float64)
    m_, _n_codes, sub = books.shape
    n = np.linalg.norm(q_vec)
    qn = q_vec / (n if n else 1.0)
    if rot is not None:
        qn = qn @ np.asarray(rot, dtype=np.float64)
    tab = np.empty((m_, _n_codes))
    for j in range(m_):
        qs = qn[j * sub : (j + 1) * sub]
        tab[j] = ((books[j] - qs[None, :]) ** 2).sum(-1)
    return [float(v) for v in tab.ravel()]


def _encode_decode(sample, books):
    """Reconstruct each sample vector from its nearest subspace
    centroids (PQ encode → decode)."""
    import numpy as np

    m, n_codes, sub = books.shape
    out = np.empty_like(sample)
    for j in range(m):
        x = sample[:, j * sub : (j + 1) * sub]
        d2 = ((x[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
        out[:, j * sub : (j + 1) * sub] = books[j][d2.argmin(1)]
    return out


def fit_opq(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    outer_iters: int = 6,
    lloyd_iters: int = 4,
    seed: int = 42,
):
    """Optimized Product Quantization: learn an orthonormal rotation
    ``R`` that re-mixes dimensions before PQ so the subspace split
    loses less information (OPQ, Ge et al., CVPR 2013 — public
    method). Alternating minimization on the driver-side sample:

    1. fix R, fit codebooks on the rotated sample (Lloyd);
    2. fix codebooks, solve the orthogonal Procrustes problem
       ``min_R ||XR − Y||_F`` (SVD of XᵀY) for the best rotation onto
       the reconstruction Y.

    Each step cannot increase the quantization error, so the final
    (R, books) is at least as good as PQ with identity rotation
    (asserted in tests). Returns ``(R, books, err_history)``; pass
    both into :func:`pq_topk`.
    """
    sample = _normalized_sample(df, vec_col, sample_size)
    return opq_iterate(sample, m, n_codes, outer_iters, lloyd_iters, seed)


def opq_iterate(
    sample, m: int, n_codes: int, outer_iters: int, lloyd_iters: int,
    seed: int,
):
    """The OPQ alternating-minimization core over an already-prepared
    (normalized) sample — shared by :func:`fit_opq` and the versioned
    ANN index (streaming/annindex), whose sample must be
    DETERMINISTIC (ordered by id) so crash-replayed rebuilds refit
    identical rotations. Returns ``(R, books, err_history)``."""
    import numpy as np

    dim = sample.shape[1]
    R = np.eye(dim)
    errs = []
    books = None
    for _ in range(outer_iters):
        xr = sample @ R
        books = _fit_books(xr, m, n_codes, lloyd_iters, seed)
        y = _encode_decode(xr, books)
        errs.append(float(((xr - y) ** 2).sum()))
        u, _s, vt = np.linalg.svd(sample.T @ y)
        R = u @ vt
    return R, books, errs


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
    rotation=None,
) -> DataFrame:
    """Product-quantization ANN with exact rerank.

    ``rotation``: optional orthonormal matrix from :func:`fit_opq`
    (OPQ). Applied after unit-normalization on both corpus and query
    sides; rotations preserve L2, so the ADC↔cosine relation and the
    exact rerank are unchanged.

    Index: every corpus vector compresses to ``m`` one-byte codes
    (nearest subspace centroid; Arrow-vectorized pandas_udf — the only
    Python in the pipeline, and it runs once per corpus row at index
    time). Search: asymmetric distance computation — each query
    precomputes an (m × n_codes) lookup table of subvector distances;
    the approximate distance of a candidate is ``m`` JVM-side array
    lookups summed, no Python, no full-vector math. Top ``shortlist``
    per query by ADC then rerank with the fold-exact cosine, so the
    output shape/semantics match cosine_topk on everything the
    shortlist catches.

    On unit vectors L2² = 2 − 2·cos, so ascending ADC distance is
    descending cosine — the quantizer trains and scores on normalized
    vectors while the rerank uses the raw ones.
    """
    import numpy as np

    if codebooks is None:
        codebooks = fit_pq_codebooks(df, vec_col, m=m, n_codes=n_codes)
    books = np.asarray(codebooks, dtype=np.float64)
    rot = None if rotation is None else np.asarray(rotation, dtype=np.float64)
    m_, n_codes_, sub = books.shape

    c = _prep(df, id_col, vec_col, "c").withColumn(
        "codes", pq_encode_udf(books, rot)("c_vec")
    )

    # per-query ADC tables, flattened row-major (queries are the small
    # side by contract; the table literal rides along in the broadcast)
    q_rows = (
        _prep(queries, id_col, vec_col, "q")
        .select("q_id", "q_vec", "q_norm")
        .collect()
    )
    spark = df.sparkSession
    tables = [
        (
            r["q_id"],
            r["q_vec"],
            float(r["q_norm"]),
            adc_table(np.array(r["q_vec"], dtype=np.float64), books, rot),
        )
        for r in q_rows
    ]
    # derive the q_id field type from the input schema so non-long ids
    # (string doc ids, ints) build and join correctly
    from pyspark.sql import types as T

    id_type = queries.schema[id_col].dataType
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    qdf = local_frame(
        spark,
        tables,
        T.StructType(
            [
                T.StructField("q_id", id_type),
                T.StructField("q_vec", T.ArrayType(T.DoubleType())),
                T.StructField("q_norm", T.DoubleType()),
                T.StructField("adc_table", T.ArrayType(T.DoubleType())),
            ]
        ),
    )

    adc = F.expr(
        f"aggregate(sequence(0, {m_ - 1}), cast(0.0 as double), "
        f"(s, i) -> s + adc_table[i * {n_codes_} + codes[i]])"
    )
    w_short = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id"))
    short = (
        F.broadcast(qdf)
        .crossJoin(_spread(c))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("adc", adc)
        .withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= shortlist)
    )
    reranked = short.withColumn(
        "cosine",
        F.expr(sp_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm")),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "cosine")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Recall@k of an ANN result vs the exact top-k (both in
    (q_id, rank, c_id) shape): |approx ∩ exact| / |exact|."""
    hits = approx.select("q_id", "c_id").intersect(
        exact.select("q_id", "c_id")
    )
    denom = exact.count()
    return hits.count() / denom if denom else 1.0


def _assign_nearest(
    v: DataFrame, cents: DataFrame, probes: int = 1
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid set,
    rank by (squared distance, cid). The distance is a sequential
    left fold, so the DuckDB oracle reproduces the argmin decisions
    bit-for-bit; the cid tiebreak makes exact-tie ordering total.

    ``probes > 1`` keeps the ``probes`` nearest cells per vector
    (rn = 1 is the primary assignment) — the IVF multi-probe dial."""
    d2 = F.expr(
        "aggregate(zip_with(vec, cvec, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (s, v) -> s + v)"
    )
    w = Window.partitionBy("vid").orderBy("d2", "cid")
    return (
        v.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= probes)
        .select("vid", "vec", "cid", "rn")
    )


# Default average cluster size for the adaptive k rule. From the
# tools/semdedup_scale.py measurements (SCALING.md): 50k/64 (avg 781)
# and 100k/256 (avg 390) both keep the pairwise stage ~20M pairs;
# 512 sits between them. With k = n / 512 the intra-cluster pair
# count grows LINEARLY in n (≈ n·512/2) instead of quadratically
# (n²/2k with a fixed k) — the safe behavior is the default, the
# explicit-k knob stays for oracle-pinned configs.
TARGET_CLUSTER_SIZE = 512


def _count_and_width(df: DataFrame, vec_col: str) -> tuple[int, int]:
    """The semantic-dedup input contract, checked once at the operator
    boundary in ONE aggregate: returns ``(n, dim)`` — the row count
    (the adaptive-k input) and the one width every non-NULL vector
    shares (0 when there is none). Mixed widths raise ``ValueError``:
    a cosine between vectors of different widths has no meaning, and
    the pair kernel would otherwise score only ``vec[:dim]``."""
    size = F.when(F.col(vec_col).isNotNull(), F.size(vec_col))
    n, lo, hi = df.agg(F.count("*"), F.min(size), F.max(size)).first()
    if lo != hi:
        raise ValueError(
            f"{vec_col} vectors must share one width, got widths "
            f"{lo} to {hi}"
        )
    return n, hi or 0


def semantic_dedup(
    df: DataFrame,
    k: int | None = None,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023):
    k-means-partition the embedding space, then drop near-duplicates
    WITHIN each cluster only — the cluster bound is what keeps the
    pairwise stage from being all-pairs at corpus scale.

    The k-means here is deliberately deterministic so the whole
    decision table is oracle-checkable: centroids initialize to the k
    lowest-id vectors, one Lloyd update (per-dimension means in exact
    DECIMAL accumulation, order-independent), one re-assignment. A
    production run would swap in pyspark.ml KMeans (kmeans_ivf_topk
    above) — every other stage is unchanged.

    Returns (vec_id, cluster_id, cluster_size, is_kept): is_kept = 0
    iff a lower-id member of the same cluster has cosine ≥ threshold.

    ``n_probe > 1`` mitigates the method's boundary-miss recall gap
    (a copy and its original split across adjacent cells — measured
    1-2% of planted dups in tools/semdedup_scale.py): pairs are also
    considered when one side's PRIMARY cell is among the other side's
    ``n_probe`` nearest, inflating the pair fan-in by ≤ n_probe while
    the reported clustering stays the primary assignment. The default
    (1) is the oracle-checked configuration.

    Scale posture: two broadcast-join assignment passes (centroids are
    k rows), one explode+hash-agg for the update (map-side combine on
    (cid, pos)), and one grouped pair-kernel pass over the cells
    (_grouped_pair_scores) whose per-group work is the cluster size,
    never the corpus.

    ``k=None`` (the default) derives k = max(8, n // 512) from the
    corpus size, so intra-cluster pairwise work grows linearly with
    the corpus instead of quadratically — a fixed k is a footgun the
    moment the corpus is 10× the one it was tuned on. Pass an
    explicit k to pin a configuration.

    Input contract: every non-NULL vector has the same width
    (``ValueError`` otherwise; NULL vectors are never a duplicate), and
    ``id_col`` is integral (the pair kernel raises ``TypeError`` for
    any other id type).
    """
    n, dim = _count_and_width(df, vec_col)
    if k is None:
        k = max(8, n // TARGET_CLUSTER_SIZE)
    v = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    cents1 = fit_centroids(v, k)
    # the probed assignment feeds two consumers (the pair kernel and
    # the output projection); materialize it once — without this the
    # crossJoin+window assignment subtree replays per consumer
    # (ReuseExchange reuses only identical shuffle subtrees)
    probed = _assign_nearest(v, cents1, probes=n_probe).localCheckpoint()
    return _dedup_from_assignments(probed, id_col, threshold, dim)


def fit_centroids(v: DataFrame, k: int) -> DataFrame:
    """The deterministic k-means fit shared by ``semantic_dedup`` and
    the versioned ANN index (streaming/annindex): centroids
    initialize to the k lowest-id vectors, one Lloyd update
    (per-dimension means in exact DECIMAL accumulation,
    order-independent), producing ``(cid, cvec)``. Deterministic so
    the decisions are oracle-checkable and a crash-replayed index
    rebuild refits IDENTICAL centroids from the same snapshot.
    ``v`` carries (vid, vec)."""
    w0 = Window.orderBy("vid")
    cents0 = (
        v.orderBy("vid")
        .limit(k)
        .withColumn("cid", F.row_number().over(w0) - 1)
        .select("cid", F.col("vec").alias("cvec"))
    )
    a1 = _assign_nearest(v, cents0)

    ex = a1.select("cid", F.posexplode("vec").alias("pos", "val"))
    m = ex.groupBy("cid", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    return (
        m.groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("sm"))
        .select("cid", F.expr("transform(sm, s -> s.m)").alias("cvec"))
    )


def _dedup_from_assignments(
    probed: DataFrame, id_col: str, threshold: float, dim: int
) -> DataFrame:
    """Pair/drop/report stage shared by every clustering backend:
    ``probed`` is a materialized (vid, vec, cid, rn) table (rn = 1 is
    the primary cell; rn > 1 are probe cells) whose vectors are
    ``dim`` wide."""
    # Pair scoring runs in the grouped pair kernel, grouped by cid:
    # every vector crosses the Python boundary once per cell it sits
    # in, and only narrow (a_id, b_id, cosine) rows come back.
    # Primary rows are side 0 and probe rows side 1, so the kernel's
    # "never side 1 x side 1" rule is exactly "at least one side is
    # in its primary cell". Cosines equal the SQL fold's bit for bit
    # (see _grouped_pair_scores), and the threshold filter stays in
    # Spark. Per-group pair state is O(c²) for cluster size c —
    # bounded by the auto-k ~512 target.
    members = with_norm(probed, "vec").select(
        F.col("vid").alias("c_id"),
        F.col("vec").alias("c_vec"),
        F.col("norm").alias("c_norm"),
        "cid",
        (F.col("rn") > 1).cast("int").alias("c_side"),
    )
    dropped = (
        _grouped_pair_scores(members, ["cid"], dim, side_col="c_side")
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(F.greatest("a_id", "b_id").alias("vid"))
        .distinct()
    )
    a2 = probed.filter(F.col("rn") == 1).select("vid", "cid")
    wsz = Window.partitionBy("cid")
    return (
        a2.join(dropped.withColumn("is_dup", F.lit(1)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cid").alias("cluster_id"),
            F.count("*").over(wsz).alias("cluster_size"),
            F.when(F.col("is_dup").isNull(), 1).otherwise(0).alias("is_kept"),
        )
    )


def semantic_dedup_ml(
    df: DataFrame,
    k: int | None = None,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    max_iter: int = 20,
    seed: int = 42,
) -> DataFrame:
    """Production-backend SemDedup: pyspark.ml KMeans (real Lloyd to
    convergence, k-means|| init) trains the partition; the trained
    centroids feed the SAME probed-assignment and pair/drop stages as
    the deterministic variant — swap the clustering, keep the dedup
    semantics. Not oracle-checkable (ml KMeans is seed-stable within
    Spark but not reproducible in SQL); equivalence-of-shape is
    asserted in tests and recall is measured against planted dups in
    tools/semdedup_scale.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n, dim = _count_and_width(df, vec_col)
    if k is None:
        k = max(8, n // TARGET_CLUSTER_SIZE)
    v = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    feats = v.withColumn("features", array_to_vector("vec"))
    km = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="features").fit(
        feats
    )
    spark = df.sparkSession
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    cents = local_frame(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
        "cid int, cvec array<double>",
    )
    probed = _assign_nearest(v, cents, probes=n_probe).localCheckpoint()
    return _dedup_from_assignments(probed, id_col, threshold, dim)


def _hyperplane_proj(vec_col: str, plane_id: int, dim: int) -> str:
    """Spark SQL: dot(vec, w_plane) where w_plane[d] is a
    deterministic pseudo-random weight in [-0.5, 0.5) derived from
    murmur ``hash(plane_id, d)`` — no stored planes, any executor
    reproduces them. A mixing hash is REQUIRED here: a linear
    congruential weight ((a*plane + b*d + c) % P) drifts by only
    b*dim/P across the dims, making every plane ≈ a constant vector
    (all projections collapse to sign(sum(vec)) — measured half the
    corpus in one 'random' bucket)."""
    return (
        f"aggregate(sequence(0, {dim - 1}), cast(0.0 as double), "
        f"(s, d) -> s + element_at({vec_col}, d + 1) * "
        f"(cast(hash({plane_id}, d) as double) / 4294967296.0))"
    )


def plane_matrix(spark, n_planes: int, dim: int):
    """(dim, n_planes) numpy weight matrix with EXACTLY the weights
    ``_hyperplane_proj`` derives — computed on the DRIVER through the
    Python murmur3 mirror (hashing.plane_weight, the same mirror the
    oracle inlines), so building it costs zero Spark jobs. Mirror
    fidelity is pinned by tests/test_functions.py (``plane_weight``
    against Spark's own ``hash``) and by
    tests/test_embedding_lsh.py::test_arrow_engine_matches_sql_band_values
    (matmul band values equal the SQL fold's)."""
    import numpy as np

    from nfl_data_pipeline_spark.operators.hashing import plane_weight

    mat = np.zeros((dim, n_planes))
    for p in range(n_planes):
        for d in range(dim):
            mat[d, p] = plane_weight(p, d)
    return mat


def hyperplane_band_struct(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    band_bits: int,
    n_bands: int,
    dim: int,
    engine: str = "sql",
) -> DataFrame:
    """ONE row per vector: ``(c_id, c_vec, c_norm, _hbs)`` where
    ``_hbs[band_id] = band_val`` — the un-exploded form of
    ``hyperplane_band_rows`` (which is defined as its posexplode, so
    the two can never drift). The incremental gate checkpoints THIS
    frame (the vector is pinned once, not ``n_bands`` times) and
    derives narrow band-probe rows and the vector side table from it
    (guide §2.3: shuffle keys, not payloads). ``engine`` is ``"sql"``
    or ``"arrow"`` (see ``hyperplane_band_rows``)."""
    if engine not in ("sql", "arrow"):
        raise ValueError(
            f"unknown engine {engine!r}: expected 'sql' or 'arrow'"
        )
    c = _prep(df, id_col, vec_col, "c", dim)
    if engine == "arrow":
        import numpy as np

        mat = plane_matrix(df.sparkSession, n_bands * band_bits, dim)
        bc = df.sparkSession.sparkContext.broadcast(mat)
        weights = 1 << np.arange(band_bits, dtype=np.int64)

        @F.pandas_udf("array<long>")
        def band_vals(vecs):
            import pandas as pd

            # the SQL width rule: project vec[:dim]; a NULL or shorter
            # vector projects to NULL, which signs as bit 0 — the
            # zero row's projections do too
            V = np.zeros((len(vecs), dim))
            for i, v in enumerate(vecs):
                if v is not None and len(v) >= dim:
                    V[i] = v[:dim]
            bits = (V @ bc.value) > 0  # (n, planes)
            vals = [
                (bits[:, b * band_bits : (b + 1) * band_bits] @ weights)
                for b in range(n_bands)
            ]
            out = np.stack(vals, axis=1)  # (n, n_bands)
            return pd.Series(list(out), dtype=object)

        return c.withColumn("_hbs", band_vals(F.col("c_vec")))
    for b in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN {_hyperplane_proj('c_vec', b * band_bits + j, dim)}"
            f" > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(band_bits)
        )
        c = c.withColumn(f"hb{b}", F.expr(bits).cast("bigint"))
    return c.select(
        "c_id",
        "c_vec",
        "c_norm",
        F.array(*[F.col(f"hb{b}") for b in range(n_bands)]).alias("_hbs"),
    )


def hyperplane_band_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    band_bits: int,
    n_bands: int,
    dim: int,
    engine: str = "sql",
) -> DataFrame:
    """Banded sign-of-projection rows ``(c_id, c_vec, c_norm,
    band_id, band_val)`` — the LSH key material shared by the
    one-shot pair finder below and the incremental gate
    (streaming/embdedup.py). Planes are hash-derived, so any caller
    at any time reproduces identical band values — which is what
    lets a REGISTRY of band rows stay probe-compatible forever.

    ``engine="sql"`` evaluates the projections as interpreted
    ``aggregate`` HOFs (~4 ms/vector at 32 planes — measured,
    SCALING.md); ``engine="arrow"`` computes all projections as ONE
    numpy matmul per Arrow batch against the broadcast plane matrix —
    same hash-derived weights, 10-100× faster. The two engines sum in
    different float orders, so a projection within float noise of
    zero could sign differently: use ONE engine per registry (the
    equality test measures zero flips on real data, but the contract
    is per-registry consistency, not cross-engine bit-equality).
    Both engines project ``vec[:dim]``; a NULL or shorter vector gets
    all-zero band values."""
    return hyperplane_band_struct(
        df, id_col, vec_col, band_bits, n_bands, dim, engine
    ).select(
        "c_id",
        "c_vec",
        "c_norm",
        F.posexplode("_hbs").alias("band_id", "band_val"),
    )


def embedding_near_dups_banded(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_bits: int = 8,
    n_bands: int = 4,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via banded random-hyperplane LSH —
    the production-threshold (≥0.9) scale path.

    Why it exists: ``embedding_near_dups``'s coarse sign quantizer has
    2^n_bits buckets TOTAL (8 by default) — bucket size grows
    O(corpus/8), so the verify join is quadratic at scale, the same
    flaw class as a 16-bit simhash. Here each of ``n_bands`` bands
    hashes the vector through ``band_bits`` random hyperplanes
    (sign-of-projection bits): band-bucket cardinality is
    2^band_bits per band, candidates = pairs agreeing on at least one
    full band, recall per pair = 1 - (1 - p^r)^L with
    p = 1 - angle/pi. At cosine 0.95 / r=8 / L=4 that is ~0.97; at
    the fixture's near-orthogonal 0.4 it is intentionally tiny —
    hyperplane LSH cannot bucket far pairs efficiently, which is why
    the oracle-gated demo keeps the coarse quantizer and THIS is the
    documented scale path for real thresholds.

    ``max_bucket`` drops hot band buckets from candidate generation
    (boilerplate/zero-vector floods), same contract as
    simhash_near_pairs.
    """
    if dim is None:
        probe = df.select(F.size(vec_col)).first()
        if probe is None:  # empty frame: no pairs
            from nfl_data_pipeline_spark.operators.localframe import (
                empty_frame,
            )

            return empty_frame(
                df.sparkSession, "vec_a long, vec_b long, cosine double"
            )
        dim = int(probe[0])
    # Projections stay the SQL engine: an exact-order Arrow projector
    # was ~2.7x faster on the projection stage in isolation, but its
    # Python-stage fixed cost came to ~+0.5 s end to end, while the
    # 10x-tier win lives almost entirely in the PAIR stage below
    # (SCALING.md r13) — interpreted projections are ~0.2 s of
    # well-parallelized wall even at 10x.
    bands = hyperplane_band_rows(
        df, id_col, vec_col, band_bits, n_bands, dim
    )
    # materialize once, not once per self-join side (bounded
    # scratch persist: see operators/dedup.scratch_persist)
    from nfl_data_pipeline_spark.operators.dedup import scratch_persist

    bands = scratch_persist(bands)
    n_band_rows = bands.count()
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_val")
        bands = bands.withColumn("_bn", F.count("*").over(w)).filter(
            F.col("_bn") <= max_bucket
        ).drop("_bn")
    # Pair-stage engine, gated on the (already materialized) band-row
    # count — both forms give the same pairs and bit-identical
    # cosines (tests/test_pair_kernel.py runs both sides of the gate):
    #
    # - SMALL inputs: the band self-join with the dim-unrolled dot.
    #   Its per-pair cost only hurts when pair volume is large; below
    #   the gate the Python-boundary fixed cost (~0.2 s/task runner
    #   handshake + an extra exchange, SCALING.md r13 calibration)
    #   outweighs the whole pair stage (measured 1.37 vs 2.28 s at
    #   sf0.1 — 8k band rows, ~31k pairs).
    # - LARGE inputs: the segment-vectorized grouped kernel. The
    #   unrolled 64-term dot is duplicated into the threshold filter
    #   and the projection, and at the 10x tier (80k band rows, ~3M
    #   pairs) that ONE join stage held 355 s of executor time;
    #   the kernel ships each vector once per band row instead of
    #   once per pair and runs the same fold order in numpy
    #   (16.3 -> ~3-5 s measured).
    #
    # The crossover: join cost grows with PAIRS (superlinear in rows
    # per bucket), kernel cost is ~fixed (one boundary crossing +
    # one exchange). 20k rows (~5k vectors at 4 bands) sits well
    # inside the measured win region of each side.
    if n_band_rows > PAIR_KERNEL_MIN_ROWS:
        return (
            _grouped_pair_scores(
                bands.select(
                    "band_id", "band_val", "c_id", "c_vec", "c_norm"
                ),
                ["band_id", "band_val"],
                dim,
            )
            .filter(F.col("cosine") >= threshold)
            .select(
                F.col("a_id").alias("vec_a"),
                F.col("b_id").alias("vec_b"),
                "cosine",
            )
            .distinct()
        )
    a = bands.select(
        F.col("c_id").alias("a_id"),
        F.col("c_vec").alias("a_vec"),
        F.col("c_norm").alias("a_norm"),
        "band_id",
        "band_val",
    )
    b2 = bands.select(
        F.col("c_id").alias("b_id"),
        F.col("c_vec").alias("b_vec"),
        F.col("c_norm").alias("b_norm"),
        "band_id",
        "band_val",
    )
    cos = F.expr(sp_dot("a_vec", "b_vec", dim)) / (
        F.col("a_norm") * F.col("b_norm")
    )
    return (
        a.join(b2, ["band_id", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a_id").alias("vec_a"),
            F.col("b_id").alias("vec_b"),
            "cosine",
        )
        .distinct()
    )


# Band-row count above which embedding_near_dups_banded's pair stage
# switches from the self-join to the grouped kernel (see the gate
# comment in the operator).
PAIR_KERNEL_MIN_ROWS = 20_000


def _grouped_pair_scores(
    members: DataFrame,
    group_cols: list[str],
    dim: int,
    side_col: str | None = None,
) -> DataFrame:
    """Within-group pairs ``(a_id, b_id, cosine)`` scored by a
    segment-vectorized exact-order kernel.

    The one grouped pair-scoring host, with three callers: the banded
    near-dup pair stage (groups = LSH buckets, unsided), the
    incremental embedding gate (streaming/embdedup.py) and semantic
    dedup (groups = k-means cells; sides below).

    Without ``side_col``: all unordered pairs, a_id < b_id. With
    ``side_col``: side-0 pairs once with a_id < b_id, plus every
    (side 0, side 1) pair with a_id != b_id — and NEVER side 1 x
    side 1. In the gate, side 0 is the batch and side 1 the registry,
    whose pairs would merge components across already-registered
    winners; in semantic dedup, side 0 is a vector's primary cell and
    side 1 a probe cell, so every pair has a primary member.

    Bit-identity contract (tests/test_pair_kernel.py compares both
    sides of the banded operator's gate hex-exactly): the dot is a
    left-to-right sum of the products over ``vec[:dim]`` — the same
    IEEE op sequence as the dim-unrolled ``sp_dot`` — and the cosine
    divides by the CARRIED ``c_norm`` product, so the values equal the
    join form's bit for bit. Rows whose vector is NULL or shorter than
    ``dim`` produced a NULL cosine in the join form (``element_at``
    past the end), as did zero-norm-product pairs (Spark's divide
    yields NULL on a zero divisor, NOT IEEE inf/NaN), and every NULL
    cosine was dropped by the caller's threshold filter; the kernel
    never emits them.

    Execution shape: hash-repartition on the group key, sort within
    partitions by (group, side, id), then ONE ``mapInArrow`` pass that
    detects group segments and scores every partition's pairs in a
    handful of numpy calls — a grouped-map UDF here cost ~3 ms of
    Python round-trip PER GROUP (1024 LSH buckets → ~3 s, measured
    r13). Incomplete trailing groups are carried across Arrow batches,
    so batch boundaries never split a group's pair set. Each vector
    crosses the boundary once per group membership instead of once
    per PAIR, and per-group pair state is bounded by the
    banding/max_bucket contract.
    """
    import pyspark.sql.types as T

    id_field = next(f for f in members.schema.fields if f.name == "c_id")
    if not isinstance(
        id_field.dataType, (T.LongType, T.IntegerType, T.ShortType)
    ):
        raise TypeError(
            f"_grouped_pair_scores needs an integral c_id, got "
            f"{id_field.dataType}"
        )
    out_schema = T.StructType(
        [
            T.StructField("a_id", id_field.dataType),
            T.StructField("b_id", id_field.dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    id_pa_name = {
        "long": "int64",
        "integer": "int32",
        "short": "int16",
    }[id_field.dataType.typeName()]

    def _score_partition(batches):
        import numpy as np
        import pyarrow as pa

        id_type = getattr(pa, id_pa_name)()
        out_pa = pa.schema(
            [("a_id", id_type), ("b_id", id_type), ("cosine", pa.float64())]
        )

        def emit(ids, norms, V, sides, seg_starts):
            """Score the accumulated rows' pairs.

            ``seg_starts`` are segment boundaries (first row index of
            each group); rows are sorted by (group[, side], c_id).
            Each row pairs with a PREFIX of its segment: the rows
            before it (unordered triangle) — or, for a registry row in
            sided mode, exactly the probe rows, which the sort keeps
            at the segment front."""
            n = len(ids)
            if n == 0:
                return None
            seg_of = np.zeros(n, dtype=np.int64)
            seg_of[seg_starts[1:]] = 1
            seg_of = np.cumsum(seg_of)
            local_k = np.arange(n) - np.asarray(seg_starts)[seg_of]
            counts = local_k  # row r pairs with the local_k rows before it
            if sides is not None:
                n_seg = int(seg_of[-1]) + 1
                nb = np.bincount(
                    seg_of, weights=(sides == 0), minlength=n_seg
                ).astype(np.int64)
                counts = np.where(sides == 1, nb[seg_of], local_k)
            total = int(counts.sum())
            if total == 0:
                return None
            b_idx = np.repeat(np.arange(n), counts)
            off = np.cumsum(counts) - counts
            a_idx = (
                np.arange(total)
                - np.repeat(off, counts)
                + np.repeat(np.asarray(seg_starts)[seg_of], counts)
            )
            # exact-order dot per pair: cumsum adds the row
            # [0.0, a0*b0, a1*b1, ...] strictly left to right (unlike
            # np.sum or BLAS), the SQL fold's op sequence; chunks of
            # 2048 pairs bound the gathered rows' memory
            acc = np.empty(total)
            buf = np.zeros((2048, dim + 1))
            for c0 in range(0, total, len(buf)):
                a = a_idx[c0 : c0 + len(buf)]
                b = b_idx[c0 : c0 + len(buf)]
                np.multiply(V[a], V[b], out=buf[: len(a), 1:])
                acc[c0 : c0 + len(a)] = np.cumsum(buf[: len(a)], axis=1)[
                    :, -1
                ]
            nprod = norms[a_idx] * norms[b_idx]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / nprod
            live = nprod != 0.0
            if sides is not None:
                # replayed probe docs coexist with their registry row:
                # the join form's a_id != b_id
                live &= ids[a_idx] != ids[b_idx]
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[a_idx][live], type=out_pa[0].type),
                    pa.array(ids[b_idx][live], type=out_pa[1].type),
                    pa.array(cos[live], type=pa.float64()),
                ],
                schema=out_pa,
            )

        carry = None  # (gkeys, ids, norms, V, sides) of the trailing group
        for batch in batches:
            tbl = batch
            if tbl.num_rows == 0:
                continue

            def col(name):
                return tbl.column(tbl.schema.get_field_index(name))

            gk_cols = [
                np.asarray(col(c).to_numpy(zero_copy_only=False))
                for c in group_cols
            ]
            ids = col("c_id").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            norms = col("c_norm").to_numpy(
                zero_copy_only=False
            ).astype(np.float64)
            sides = (
                col(side_col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                if side_col is not None
                else None
            )
            vec_arr = col("c_vec")
            if isinstance(vec_arr, pa.ChunkedArray):
                vec_arr = vec_arr.combine_chunks()
            offs = vec_arr.offsets.to_numpy(zero_copy_only=False)
            lens = offs[1:] - offs[:-1]
            valid = lens >= dim
            if vec_arr.null_count:
                valid &= ~np.asarray(
                    vec_arr.is_null().to_numpy(zero_copy_only=False)
                )
            flat = np.asarray(vec_arr.values.to_numpy(zero_copy_only=False))
            # sorted-input contract gives grouped-contiguous rows; the
            # valid filter preserves that
            gk_cols = [g[valid] for g in gk_cols]
            ids = ids[valid]
            norms = norms[valid]
            if sides is not None:
                sides = sides[valid]
            starts = offs[:-1][valid]
            take = starts[:, None] + np.arange(dim)[None, :]
            V = flat[take] if len(starts) else np.zeros((0, dim))
            if carry is not None:
                gk_cols = [
                    np.concatenate([c0, c1])
                    for c0, c1 in zip(carry[0], gk_cols)
                ]
                ids = np.concatenate([carry[1], ids])
                norms = np.concatenate([carry[2], norms])
                V = np.vstack([carry[3], V]) if len(V) else carry[3]
                if sides is not None:
                    sides = np.concatenate([carry[4], sides])
            n = len(ids)
            if n == 0:
                carry = None
                continue
            changed = np.zeros(n, dtype=bool)
            changed[0] = True
            for g in gk_cols:
                changed[1:] |= g[1:] != g[:-1]
            seg_starts = np.flatnonzero(changed)
            last_start = int(seg_starts[-1])
            # hold the trailing (possibly incomplete) group back
            carry = (
                [g[last_start:] for g in gk_cols],
                ids[last_start:],
                norms[last_start:],
                V[last_start:],
                sides[last_start:] if sides is not None else None,
            )
            rb = emit(
                ids[:last_start],
                norms[:last_start],
                V[:last_start],
                sides[:last_start] if sides is not None else None,
                seg_starts[:-1],
            )
            if rb is not None:
                yield rb
        if carry is not None and len(carry[1]):
            rb = emit(
                carry[1], carry[2], carry[3], carry[4], np.array([0])
            )
            if rb is not None:
                yield rb

    side_sort = [side_col] if side_col is not None else []
    sorted_members = members.repartition(*group_cols).sortWithinPartitions(
        *group_cols, *side_sort, "c_id"
    )
    return sorted_members.mapInArrow(_score_partition, out_schema)
