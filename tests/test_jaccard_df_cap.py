"""Hot-shingle defense for the Jaccard inverted index: a shingle
present in every document must not turn candidate generation
quadratic. Planted-boilerplate scenario from corpus dedup at scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.dedup import (
    clear_sids_cache,
    jaccard_pairs,
)


def _corpus(spark, n_docs: int = 40):
    """Every doc shares one boilerplate 3-gram ('terms of service');
    unique payload otherwise, except docs 0/1 which are near-dups."""
    rows = []
    for i in range(n_docs):
        payload = f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        if i == 1:
            payload = "alpha0 beta0 gamma0 delta0 epsilon1"
        rows.append((i, f"terms of service {payload}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_df_cap_bounds_candidates(spark):
    clear_sids_cache()
    docs = _corpus(spark)
    # uncapped: the shared boilerplate shingle links every pair
    all_pairs = jaccard_pairs(docs, threshold=0.0).count()
    n = docs.count()
    assert all_pairs == n * (n - 1) // 2
    # capped: the boilerplate sids exceed 50% df and drop out; only
    # pairs sharing payload shingles survive candidate generation
    capped = jaccard_pairs(docs, threshold=0.0, max_df=0.5)
    assert capped.count() == 1
    row = capped.collect()[0]
    assert (row["doc_a"], row["doc_b"]) == (0, 1)


def test_df_cap_keeps_near_dup_scores(spark):
    clear_sids_cache()
    docs = _corpus(spark)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5, max_df=0.5).collect()
    }
    # the true near-dup pair survives the cap; its capped score is a
    # lower bound of the exact score
    assert set(capped) == {(0, 1)} and (0, 1) in exact
    assert capped[(0, 1)] <= exact[(0, 1)]


def test_scratch_persist_is_bounded(spark):
    from nfl_data_pipeline_spark.operators.dedup import (
        _SCRATCH_MAX,
        _SCRATCH_PERSISTS,
        scratch_persist,
    )

    start = len(_SCRATCH_PERSISTS)
    for i in range(_SCRATCH_MAX + 4):
        scratch_persist(spark.range(i + 1))
    assert len(_SCRATCH_PERSISTS) <= _SCRATCH_MAX
