"""Scale-stress checks: replicate the fixtures 5-10× in memory and
assert the operators behave exactly (not approximately) under volume —
the local stand-in for the 100 TB posture.

- Exact-decimal sums are linear: 10 unioned copies give exactly 10×
  the single-copy aggregates (order-independence proof at 6M rows).
- MinHash-LSH on a corpus with planted exact duplicates must recall
  EVERY copy pair: identical shingle sets → identical signatures →
  same band buckets, deterministically.
"""

from __future__ import annotations

from functools import reduce

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
from nfl_data_pipeline_spark.queries.exact import dsum
from tests.conftest import SF_CORRECT, SF_SMOKE


def test_exact_sum_linearity_under_replication(spark):
    li = load(spark, SF_CORRECT, "lineitem")  # 60k rows
    li10 = reduce(lambda a, b: a.unionByName(b), [li] * 10)  # 600k
    agg = lambda df: {  # noqa: E731
        r["l_returnflag"]: (r["sum_base"], r["n"])
        for r in df.groupBy("l_returnflag")
        .agg(
            F.expr(dsum("l_extendedprice", "sum_base")),
            F.count("*").alias("n"),
        )
        .collect()
    }
    one, ten = agg(li), agg(li10)
    assert set(one) == set(ten)
    for k in one:
        assert ten[k][1] == 10 * one[k][1]
        # decimal accumulation is exactly linear; the only imprecision
        # is THIS assertion's python-side 10× float multiply (1 ulp)
        assert ten[k][0] == pytest.approx(10 * one[k][0], rel=1e-12)


def test_minhash_finds_all_planted_duplicates(spark):
    docs = load(spark, SF_SMOKE, "documents")  # 500 docs
    n = docs.count()
    copies = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000))
        for i in range(5)
    ]
    corpus = reduce(lambda a, b: a.unionByName(b), copies)  # 2500 docs

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(corpus).collect()
    }
    # every copy pair of every doc must be a candidate (identical
    # shingles → identical signature → same bands; no probability)
    missing = 0
    for base in range(n):
        ids = sorted(base + i * 10_000 for i in range(5))
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if (ids[i], ids[j]) not in pairs:
                    missing += 1
    assert missing == 0, f"{missing} planted duplicate pairs missed"


def test_planted_duplicate_chains_cluster_fully(spark):
    """Plant chains of near-identical docs (A≈B≈C≈D, consecutive
    Jaccard ≥ 0.5 but ends dissimilar) at 10x corpus volume: the
    pair→cluster collapse must recover every planted chain as ONE
    component keyed by its min doc id — transitivity that pair lists
    alone don't give."""
    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )

    base_words = [f"w{i}" for i in range(40)]
    rows = []
    # 50 chains of 4: doc k+j drops j*6 leading words from a 40-word
    # doc → adjacent overlap 34/46 ≈ 0.74, ends overlap 22/58 ≈ 0.38
    for c in range(50):
        words = [f"c{c}_{w}" for w in base_words]
        for j in range(4):
            rows.append((c * 10 + j, " ".join(words[j * 6 :])))
    # 2000 unrelated filler docs
    for i in range(2000):
        rows.append((100_000 + i, " ".join(f"f{i}_{k}" for k in range(30))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = jaccard_pairs(docs, threshold=0.5)
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    for c in range(50):
        ids = [c * 10 + j for j in range(4)]
        got = {comp.get(i) for i in ids}
        assert got == {ids[0]}, f"chain {c} fragmented: {got}"
    assert all(v < 100_000 for v in comp.values())  # no filler joined


def _synth_vectors(spark, n: int, dim: int = 8):
    """Deterministic pseudo-random unit-scale vectors (hash-phase noise,
    same idiom as SCALING.md §"Semantic-dedup pair bound")."""
    cols = [
        F.expr(
            f"cast(hash(id, {d}) % 1000 as double) / 1000.0"
        ).alias(f"x{d}")
        for d in range(dim)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*cols).alias("embedding"),
    )


def _intra_cluster_pairs(out) -> int:
    """Sum c*(c-1)/2 over the operator's reported cluster sizes."""
    rows = (
        out.select("cluster_id", "cluster_size").distinct().collect()
    )
    return sum(r["cluster_size"] * (r["cluster_size"] - 1) // 2 for r in rows)


def test_semantic_dedup_auto_k_keeps_pairwise_linear(spark):
    """With the adaptive default k = max(8, n // TARGET_CLUSTER_SIZE),
    doubling the corpus must roughly DOUBLE the intra-cluster pair
    count (linear scaling), not quadruple it (the fixed-k quadratic
    failure mode the r2 verdict flagged). Also pins the derived k."""
    from nfl_data_pipeline_spark.operators.similarity import (
        TARGET_CLUSTER_SIZE,
        semantic_dedup,
    )

    n1, n2 = 4096, 8192
    out1 = semantic_dedup(_synth_vectors(spark, n1), threshold=0.99)
    out2 = semantic_dedup(_synth_vectors(spark, n2), threshold=0.99)
    p1, p2 = _intra_cluster_pairs(out1), _intra_cluster_pairs(out2)
    assert out1.count() == n1 and out2.count() == n2
    # derived k doubles with the corpus
    assert out1.select("cluster_id").distinct().count() <= max(
        8, n1 // TARGET_CLUSTER_SIZE
    )
    assert p1 > 0 and p2 > 0
    ratio = p2 / p1
    # linear scaling: ratio ~2 (clusters are hash-uniform, not exactly
    # balanced). A fixed k would give ~4.
    assert ratio < 3.0, f"pairwise stage scaled superlinearly: {ratio:.2f}x"
