"""Domain-pipeline benchmarks at reference scale (BASELINE.md: the
reference's fact table is ~1.2M rows × 25 seasons; BENCH times the
lifecycle + analysis pipelines at that scale, not just the §2 query
inventory).

The pbp table is generated DISTRIBUTED (spark.range + column
expressions — never driver-side pandas): 1.2M rows materialize in
well-split partitions, deterministic by construction (pure functions
of ``id``), no data files needed. Shapes mirror 1_rebuild_db.R's
season-append world and R/epa_predict.R's lag-panel workload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_ROWS = 1_200_000
N_SEASONS = 25  # 1999..2023
N_TEAMS = 32
N_QBS = 96

_TEAMS = [f"T{i:02d}" for i in range(N_TEAMS)]


def synth_pbp(spark: SparkSession, n_rows: int = N_ROWS) -> DataFrame:
    """NFL-shaped play-by-play: one row per play, pure-expression
    columns (uniform keys, sinusoid metrics — enough structure for
    windows/correlations to be non-degenerate)."""
    plays_per_season = n_rows // N_SEASONS
    id_ = F.col("id")
    season = (1999 + id_ % N_SEASONS).alias("season")
    team_ix = F.pmod(F.hash(id_ * 2_654_435_761 % 1_000_000_007), N_TEAMS)
    qb_ix = F.pmod(F.hash(id_ * 40_503 % 1_000_000_007), N_QBS)
    return spark.range(n_rows).select(
        # unique per-row id: the shard/sampling pipelines need a
        # TOTAL order — a hash of (game_id, play_id, name) collides
        # ~400k times over 1.2M rows (those columns are id-modulo
        # constructions), which would make the (key, id) window
        # order tie-dependent and the "deterministic" shard contents
        # retry-dependent
        id_.alias("row_uid"),
        season,
        (
            F.floor(
                (id_ % plays_per_season) / (plays_per_season // 18 + 1)
            ).cast("long")
            + 1
        ).alias("week"),
        F.concat(
            (1999 + id_ % N_SEASONS).cast("string"),
            F.lit("_"),
            (id_ % 6000).cast("string"),
        ).alias("game_id"),
        (id_ % 180).alias("play_id"),
        F.element_at(F.array(*[F.lit(t) for t in _TEAMS]), team_ix + 1).alias(
            "posteam"
        ),
        F.concat(F.lit("QB"), qb_ix.cast("string")).alias("name"),
        (F.sin(id_.cast("double")) * 2.0).alias("epa"),
        (F.cos(id_.cast("double")) * 0.3).alias("cpoe"),
        (id_ % 3 < 2).cast("double").alias("pass"),
        (id_ % 3 >= 2).cast("double").alias("rush"),
        (F.sin(id_.cast("double") * 0.37) > -0.2).cast("double").alias(
            "success"
        ),
    )


def rebuild_1p2m(spark: SparkSession, out_dir: str) -> None:
    """1_rebuild_db.R at reference scale: full overwrite of the
    season-partitioned fact table + the per-season sanity count.
    Goes through jobs/rebuild.rebuild, which clusters on the
    partition column first — the unclustered write emitted 32 × 25 =
    800 ~90 KB files (tasks × seasons) and cost 7.1 s vs 1.8 s
    clustered (r12, guide §6 small-files)."""
    from nfl_data_pipeline_spark.jobs.rebuild import rebuild

    rebuild(synth_pbp(spark), out_dir, partition_col="season")
    spark.read.parquet(out_dir).groupBy("season").count().collect()


def incremental_append(spark: SparkSession, out_dir: str) -> None:
    """2_scrape_new_games.R: left-anti merge of a 'new week' of games
    into the rebuilt table (idempotent append path)."""
    existing = spark.read.parquet(out_dir)
    new_games = synth_pbp(spark).filter(
        (F.col("season") == 2023) & (F.col("week") == 18)
    )
    missing = new_games.join(
        existing.select("game_id").distinct(), "game_id", "left_anti"
    )
    missing.write.format("noop").mode("overwrite").save()


def epa_panel_core(spark: SparkSession, out_dir: str) -> None:
    """R/epa_predict.R's signature workload at scale: QB-season panel
    → full lag grid → stability-correlation table."""
    pbp = spark.read.parquet(out_dir).filter(
        (F.col("rush") == 1) | (F.col("pass") == 1)
    )
    metrics = ["epa", "cpoe", "success", "pass"]
    panel = pbp.groupBy("name", "season").agg(
        F.count("*").alias("n_plays"),
        *[F.avg(m).alias(f"{m}_pp") for m in metrics],
    ).filter(F.col("n_plays") >= 50)
    w = Window.partitionBy("name").orderBy("season")
    for m in metrics:
        panel = panel.withColumn(f"lag_{m}_pp", F.lag(f"{m}_pp").over(w))
    panel.agg(
        *[F.corr(f"{m}_pp", f"lag_{m}_pp").alias(f"yoy_{m}") for m in metrics]
    ).collect()


def incremental_funnel(spark: SparkSession, out_dir: str) -> None:
    """Incremental curation funnel: three document micro-batches
    through the tx-state gates (streaming/funnel.py), measuring the
    maintenance path — vocab merge + prefix-LM scoring + registry
    dedup + mergeable counts — rather than the one-shot query."""
    import os

    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.streaming.funnel import (
        FunnelState,
        process_funnel_batch,
        read_funnel_counts,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = load(spark, sf_dir, "documents")
    # sibling of the pbp table dir, NOT inside it: a non-underscore
    # subdir inside a parquet directory would trip later readers
    state = FunnelState(out_dir + "_funnel_state")
    for i in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == i)
        process_funnel_batch(spark, batch, state, f"bench-{i}")
    # force the read path too
    read_funnel_counts(spark, state).write.format("noop").mode(
        "overwrite"
    ).save()


def incremental_curation(spark: SparkSession, out_dir: str) -> None:
    """Composed incremental curation (streaming/curation.py): two
    half-corpus micro-batches through the FULL chain — funnel gates +
    registry exact dedup + MinHash near-dup gate + mergeable
    counts + kept-length histogram. Separate bench key from the
    funnel-only pipeline so each path keeps its own baseline."""
    import os

    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.streaming.curation import (
        CurationState,
        process_curation_batch,
        read_curation_counts,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = load(spark, sf_dir, "documents")
    # track_frequent exercises the full ordered chain incl. the
    # merged-MG n-gram fold (its cost must stay marginal — r5 gate)
    state = CurationState(out_dir + "_curation_state", track_frequent=True)
    for i in range(2):
        batch = docs.filter(F.col("doc_id") % 2 == i)
        process_curation_batch(spark, batch, state, f"bench-{i}")
    read_curation_counts(spark, state).write.format("noop").mode(
        "overwrite"
    ).save()


def knn_arrow(spark: SparkSession, out_dir: str) -> None:
    """Arrow-engine brute-force kNN over the embeddings fixture —
    the vectorized fast path of the knn_search brute leg (same
    queries, k=5; one einsum per Arrow batch replaces the interpreted
    SQL fold-dots). The SQL fold stays the oracle-gated row; this key
    makes the operator dial's measured speedup bench-visible
    (VERDICT r4 #6). Kept-set equality vs the fold is pinned by
    tests/test_multimodal_sources.py::test_cosine_topk_arrow_matches_sql_fold."""
    import os

    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.operators.similarity import cosine_topk

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    cosine_topk(q, emb, k=5, engine="arrow").write.format("noop").mode(
        "overwrite"
    ).save()


def embdedup_gate_arrow(spark: SparkSession, out_dir: str) -> None:
    """Incremental embedding gate with engine='arrow' (matmul band
    projections + einsum verify — measured 4.7× over the SQL fold at
    the 10× tier, SCALING.md): two half-corpus batches against a
    fresh registry. Verdict equality with the SQL engine is pinned by
    tests/test_streaming_embdedup.py::test_arrow_engine_equivalent_verdicts."""
    import os

    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.streaming.embdedup import (
        EmbDedupState,
        process_embdedup_batch,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    emb = load(spark, sf_dir, "embeddings")
    state = EmbDedupState(out_dir + "_embarrow_state")
    for i in range(2):
        batch = emb.filter(F.col("vec_id") % 2 == i)
        process_embdedup_batch(
            spark,
            batch,
            state,
            f"bench-{i}",
            threshold=0.9,
            engine="arrow",
        ).write.format("noop").mode("overwrite").save()


def bpe_tokenize(spark: SparkSession, out_dir: str) -> None:
    """BPE tokenization over the documents fixture (VERDICT r4 #7):
    driver-side merge training on a bounded sample (the production
    shape — the merge table is a model artifact), then the
    Arrow-batched distributed apply with the per-batch word cache
    (operators/bpe.py)."""
    import os

    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.operators.bpe import (
        train_bpe,
        with_bpe_tokens,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = load(spark, sf_dir, "documents")
    sample = [
        r["text"] for r in docs.select("text").limit(200).collect()
    ]
    merges = train_bpe(sample, n_merges=200)
    with_bpe_tokens(docs, merges).select(
        "doc_id", "n_bpe_tokens"
    ).write.format("noop").mode("overwrite").save()


def epoch_shards_1p2m(spark: SparkSession, out_dir: str) -> None:
    """Seeded epoch-shuffle shard write at reference scale: the 1.2M
    synthetic pbp rows through the affine-permutation shuffle
    (operators/shuffle.py) into 32 shard directories of REAL parquet,
    each file already in epoch order — the training-dataloader
    product, measuring the one-hash-exchange + in-partition-sort +
    write path rather than an aggregate proxy."""
    from nfl_data_pipeline_spark.operators.shuffle import shuffled_shards

    df = synth_pbp(spark).withColumnRenamed("row_uid", "doc_id")
    shuffled_shards(df, seed=1, n_shards=32).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(out_dir + "_epoch_shards")


def corpus_assembly_1p2m(spark: SparkSession, out_dir: str) -> None:
    """Composed training-corpus assembly at reference scale: the 1.2M
    synthetic rows → per-team Hamilton-stratified PPS subsample (a
    500k-draw quality-weighted budget where weight = a play-text
    length proxy) → seeded size-aware shard write. Measures the full
    curated-corpus → training-shards path (two range prefix sums +
    one shard exchange + parquet write), every stage deterministic
    and exact-arithmetic — the composition of pps_stratified and
    seeded_shuffle_sized, each independently oracle-gated."""
    from nfl_data_pipeline_spark.operators.sampling import (
        pps_stratified_sample,
    )
    from nfl_data_pipeline_spark.operators.shuffle import (
        shuffled_shards_weighted,
    )

    df = synth_pbp(spark).withColumnRenamed("row_uid", "doc_id").withColumn(
        # deterministic token-count proxy (synth_pbp has no text
        # column): skewed across plays like real document lengths
        "w",
        (F.col("play_id") % 180 * 7 + 40).cast("long"),
    )
    sampled = pps_stratified_sample(
        df, k=500_000, weight_col="w", strata_col="posteam", seed=7,
        n_ranges=256,
    ).withColumn(
        # a document drawn m times occupies m × its weight in the
        # epoch — shard boundaries pack on the EFFECTIVE weight
        "w_eff",
        (F.col("w") * F.col("n_copies")).cast("long"),
    )
    shuffled_shards_weighted(
        sampled,
        seed=8,
        target_weight=10_000_000,  # ~43 shard files at this corpus
        weight_col="w_eff",
        n_ranges=256,
    ).write.mode("overwrite").partitionBy("shard").parquet(
        out_dir + "_corpus_shards"
    )
