"""Physical-plan shape assertions (SURVEY.md §4): the properties that
make these queries survive a 100× scale-up are visible in the plan —
filters reaching the parquet scan, pruned read schemas, broadcast
joins for dimension tables, map-side partial aggregation, and top-k
executed as TakeOrderedAndProject instead of a full sort.
"""

from __future__ import annotations

from nfl_data_pipeline_spark.queries import all_queries
from tests.conftest import SF_CORRECT


def plan_of(spark, name: str, execute: bool = False) -> str:
    df = all_queries()[name].spark(spark, SF_CORRECT)
    if execute:
        # AQE finalizes the plan (and records codegen stages) only
        # after THIS dataframe's own execution runs (count() would
        # spawn a separate query execution and finalize nothing here)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filters_push_to_scan(spark):
    plan = plan_of(spark, "filter_project")
    # predicates reach the parquet reader (list is truncated in
    # toString, so assert on the leading entries)
    assert "PushedFilters: [IsNotNull" in plan
    assert "In(o_orderstatus, [F,O])" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    # ReadSchema must not include unused columns like l_orderkey/l_partkey
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region
    # the big fact-side join may be shuffle-based; no cartesian anywhere
    assert "CartesianProduct" not in plan


def test_partial_aggregation_map_side(spark):
    plan = plan_of(spark, "pricing_summary")
    # two-phase hash aggregate: partial before the exchange, final after
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_physical(spark):
    plan = plan_of(spark, "semi_anti_join")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_whole_stage_codegen_on_hot_path(spark):
    plan = plan_of(spark, "pricing_summary", execute=True)
    # executedPlan toString marks codegen stages with '*(n)'
    assert "*(1)" in plan and "isFinalPlan=true" in plan


def test_vig_removal_single_shuffle(spark):
    # all 10 window iterations share the player partitioning; the
    # fixed point must plan as ONE Exchange (no localCheckpoint in
    # the loop — a checkpointed RDD drops partitioning metadata and
    # forces a re-shuffle per segment)
    plan = plan_of(spark, "vig_removal")
    assert plan.count("Exchange") == 1


def test_knn_broadcasts_queries(spark):
    # the small query side must broadcast; candidates stream by
    plan = plan_of(spark, "knn_search")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_partition_pruning_on_partitioned_table(spark, tmp_path_factory):
    """S5: the reference fetches only requested seasons (one file per
    season); the Spark form is a season-partitioned table whose reads
    partition-prune. Asserted on the physical plan."""
    import shutil
    import tempfile
    import os

    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.jobs.rebuild import rebuild

    os.makedirs("/root/repo/.scratch", exist_ok=True)
    d = tempfile.mkdtemp(dir="/root/repo/.scratch")
    try:
        orders = load(spark, SF_CORRECT, "orders")
        from pyspark.sql import functions as F

        rebuild(
            orders.withColumn("order_year", F.year("o_orderdate")),
            f"{d}/orders_part",
            partition_col="order_year",
        )
        df = spark.read.parquet(f"{d}/orders_part").filter(
            F.col("order_year") == 1997
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(order_year" in plan
        assert "(order_year" in plan and "1997" in plan
        # correctness: only 1997 rows read
        years = [r["order_year"] for r in df.select("order_year").distinct().collect()]
        assert years == [1997]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_asof_join_single_shuffle(spark):
    """The union-ffill as-of join claims ONE shuffle on the key: the
    executed plan must contain exactly one hash-partitioning Exchange
    (the window's) and no join operator at all."""
    plan = plan_of(spark, "asof_join_events", execute=True)
    # AdaptiveSparkPlan.toString prints Final Plan AND Initial Plan;
    # count shuffles in the final section only
    plan = plan.split("Initial Plan")[0]
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_range_join_is_equi_join(spark):
    """Bin bucketing must turn the interval predicate into an
    equi-join: no BroadcastNestedLoopJoin / CartesianProduct in the
    executed plan (stock Spark's fate for inequality joins)."""
    plan = plan_of(spark, "range_join_windows", execute=True)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_banded_dedup_avoids_cartesian(spark):
    """LSH banding's whole point: candidate generation is an equi
    hash join on band buckets, never an all-pairs product."""
    for name in ["dedup_minhash_lsh", "dedup_simhash"]:
        plan = plan_of(spark, name, execute=True)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pii_redact_pure_map(spark):
    # redaction is a narrow projection: no aggregation shuffle, no
    # join — the only exchange is the presentation sort
    plan = plan_of(spark, "pii_redact")
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_sequence_packing_single_corpus_shuffle(spark):
    # pass 1: the window's hash partitioning on source is reused by
    # the (source, bin_id) aggregation — subset-satisfies-clustering;
    # extra exchanges beyond the join-back of the rebalance summaries
    # would reshuffle the CORPUS at 100 TB. The corpus takes exactly
    # one hash exchange (source window); the remaining exchanges see
    # only bin summaries: one single-partition hop for the global
    # rebalance window and the broadcast join-back.
    plan = plan_of(spark, "sequence_packing")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Exchange SinglePartition") == 1
    assert "CartesianProduct" not in plan


def test_unigram_logprob_one_corpus_pass(spark):
    # the doc-term aggregate is checkpointed and reused by the
    # vocabulary, the total and the per-doc sums: exactly three
    # aggregation exchanges downstream (dt, vocab, per-doc), never a
    # re-explode of the corpus per consumer
    plan = plan_of(spark, "unigram_logprob")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "BroadcastHashJoin" in plan  # vocabulary joins broadcast


def test_bigram_logprob_no_window_over_pairs(spark):
    # VERDICT r10 #1: the r10 form counted bigrams with window
    # functions partitioned by (prev[,term]) over the RAW pair
    # stream — no map-side combine, so a hot context word ("the")
    # lands a corpus share in one task at 100×. The r11 shape is
    # map-side-combined groupBy aggregates (bounded by
    # distinct-bigram / vocabulary cardinality) joined back via
    # gated_broadcast: the plan must contain no Window at all, and
    # the count tables must come back as broadcast joins.
    plan = plan_of(spark, "bigram_logprob")
    assert "Window" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_semantic_dedup_bounded_plan(spark):
    # the k-means assignment is materialized once (checkpoint); the
    # pairwise stage joins on the cluster id — never a cartesian over
    # the corpus
    plan = plan_of(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") <= 1
    # pairs are scored by the one grouped pair kernel (a mapInArrow
    # pass), not a per-group pandas UDF
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("MapInArrow") == 1


def test_domain_mixture_aggregates_before_single_partition(spark):
    # corpus-sized work happens in the hash-partitioned aggregation;
    # the single-partition stage only ever sees one row per domain
    plan = plan_of(spark, "domain_mixture")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1


def test_exact_substring_bounded_plan(spark):
    # posting list and df-capped hits are each materialized once; the
    # pair stage joins on the window id — no cartesian anywhere, and
    # the seed join's fan-in is bounded by the df cap
    plan = plan_of(spark, "dedup_exact_substring")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4


def test_curation_funnel_single_corpus_evidence_pass(spark):
    # per-doc evidence joins back via broadcast; the only windowed
    # stage is the fingerprint dedup rank
    plan = plan_of(spark, "curation_funnel")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1


def test_doc_chunking_shuffle_free(spark):
    """Chunking is a narrow projection + explode: the executed plan
    must contain NO Exchange — the property that makes it scale
    linearly with executors at 100 TB."""
    plan = plan_of(spark, "doc_chunking")
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_cluster_split_label_join_broadcast(spark):
    """cluster_safe_split / dedup_soft_weights: the component-label
    table (|dup docs| << corpus) must come back onto the corpus as a
    BROADCAST join — a shuffled corpus here would defeat the
    operator's 100 TB contract — and nothing may go cartesian."""
    for name in ("cluster_safe_split", "cluster_safe_split_banded", "dedup_soft_weights"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_profile_table_approx_no_expand(spark):
    # the approx dial is the 100-TB path: ONE aggregate pass with
    # map-side combine, and no Expand node (the exact dial's
    # multi-column COUNT DISTINCT replicates every row n_cols times)
    plan = plan_of(spark, "profile_table_approx")
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 2  # partial agg -> single row
    # while here: the exact twin keeps its Expand confined to the
    # distinct aggregate (the r10 split)
    exact = plan_of(spark, "profile_table")
    assert "Expand" in exact


def test_play_order_first_is_one_aggregate(spark):
    """``dplyr::first`` in play order (A5) is a min of an ordered
    struct, not a sorted window plus a second aggregate: the three
    plans that take it carry no ``first`` window, and passing_stats
    aggregates map-side before its one Exchange instead of shuffling
    every pass attempt. per_game_summary keeps exactly one Window —
    the game-over cumsum of ``with_game_over_flag``."""
    from nfl_data_pipeline_spark.plans import epa_panel, wilson

    play = {
        "game_id": "2020_01_SEA_ATL", "play_id": 10.0, "season": 2020,
        "week": 1, "season_type": "REG", "posteam": "SEA",
        "home_team": "SEA", "defteam": "ATL", "down": 1, "ydstogo": 10,
        "play_type": "pass", "rush": 0, "pass": 1, "epa": 0.1, "wp": 0.5,
        "qb_epa": 0.1, "cpoe": 1.0, "success": 1.0, "yards_gained": 5.0,
        "complete_pass": 1, "incomplete_pass": 0, "interception": 0,
        "pass_touchdown": 0, "name": "R.Wilson", "id": "00-1",
    }
    pbp = spark.createDataFrame([tuple(play.values())], list(play))
    plans = {
        "passing_stats": epa_panel.passing_stats(pbp),
        "qb_seasons": epa_panel.qb_seasons(pbp),
        "per_game_summary": wilson.per_game_summary(pbp, "SEA"),
    }
    plans = {
        k: df._jdf.queryExecution().executedPlan().toString()
        for k, df in plans.items()
    }
    assert "Window" not in plans["passing_stats"]
    assert "Window" not in plans["qb_seasons"]
    assert plans["per_game_summary"].count("Window [") == 1
    lines = plans["passing_stats"].splitlines()
    exchanges = [i for i, l in enumerate(lines) if "Exchange" in l]
    partial = [i for i, l in enumerate(lines) if "partial_min(struct" in l]
    # tree order: the partial aggregate prints below (after) its Exchange
    assert len(exchanges) == 1 and partial and partial[0] > exchanges[0]
