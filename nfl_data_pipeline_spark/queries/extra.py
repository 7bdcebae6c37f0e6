"""Additional coverage queries: ordered list-collapse aggregation
(the reference's ``paste(collapse=", ")``), distinct-aggregation, and
a TPC-H-Q3-shaped join+agg+top-k headline for the bench.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.operators.hashing import affine_hash, split_case
from nfl_data_pipeline_spark.queries import register
from nfl_data_pipeline_spark.queries.exact import dsum


@register(
    "string_agg_ordered",
    """
    SELECT c_nationkey AS nationkey,
           string_agg(c_mktsegment, ', ' ORDER BY c_mktsegment, c_custkey)
             AS segs,
           COUNT(*) AS n
    FROM customer
    WHERE c_custkey <= 40
    GROUP BY c_nationkey
    """,
    survey_ids=("§2.9-concat",),
    doc="Ordered list-collapse — `paste(game_ids, collapse=', ')` "
    "(2_scrape_new_games.R:22): collect_list over an explicit order + "
    "array_join. Deterministic because the order is total.",
)
def string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 40)
    # sort structs (segment, custkey) then project the segment: gives
    # the same total order DuckDB's ORDER BY clause applies
    return (
        c.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("c_mktsegment", "c_custkey")
                        )
                    ),
                    lambda s: s["c_mktsegment"],
                ),
                ", ",
            ).alias("segs"),
            F.count("*").alias("n"),
        )
    )


@register(
    "distinct_agg",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    survey_ids=("A9",),
    doc="Distinct-aggregation (COUNT DISTINCT) — beyond the reference "
    "(it only has relation-level distinct); Spark expands this to a "
    "two-phase aggregate.",
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("n_parts"),
            F.count_distinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "shipping_priority",
    f"""
    SELECT l.l_orderkey AS okey,
           {dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, okey ASC
    LIMIT 10
    """,
    survey_ids=("J2", "J3", "O3"),
    doc="TPC-H-Q3-shaped shipping-priority: selective filters on both "
    "join sides (all pushed to scans), two shuffling joins, exact-sum "
    "revenue, top-10 with tiebreak. The headline join benchmark.",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("okey"),
            "o_orderdate",
            "o_orderpriority",
        )
        .agg(F.expr(dsum("l_extendedprice * (1 - l_discount)", "revenue")))
        .select("okey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("okey").asc())
        .limit(10)
    )


@register(
    "skew_join_salted",
    f"""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 5 = 0 THEN 0
                  ELSE l_partkey % 200 END AS sk,
             l_returnflag, l_quantity
      FROM lineitem
    ),
    dim AS (
      SELECT p_partkey % 200 AS sk,
             CAST(MIN(p_retailprice) AS DOUBLE) AS dim_price
      FROM part GROUP BY 1
    )
    SELECT f.l_returnflag,
           COUNT(*) AS n,
           {dsum("f.l_quantity * d.dim_price", "weighted_qty")}
    FROM fact f JOIN dim d ON f.sk = d.sk
    GROUP BY f.l_returnflag
    """,
    survey_ids=("J5", "§skew"),
    doc="Skewed equi-join through the explicit salting path: ~20% of "
    "fact rows pile on one key; salted_join shards the hot key across "
    "16 salt values so no single task owns it. The oracle is the "
    "PLAIN join — salting must be row-for-row invisible in results.",
)
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.relational import salted_join

    li = load(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 5 == 0, 0)
        .otherwise(F.col("l_partkey") % 200)
        .alias("sk"),
        "l_returnflag",
        "l_quantity",
    )
    dim = (
        load(spark, sf_dir, "part")
        .groupBy((F.col("p_partkey") % 200).alias("sk"))
        .agg(F.min("p_retailprice").cast("double").alias("dim_price"))
    )
    joined = salted_join(fact, dim, "sk")
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr(dsum("l_quantity * dim_price", "weighted_qty")),
    )


@register(
    "skew_join_plain",
    f"""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 5 = 0 THEN 0
                  ELSE l_partkey % 200 END AS sk,
             l_returnflag, l_quantity
      FROM lineitem
    ),
    dim AS (
      SELECT p_partkey % 200 AS sk,
             CAST(MIN(p_retailprice) AS DOUBLE) AS dim_price
      FROM part GROUP BY 1
    )
    SELECT f.l_returnflag,
           COUNT(*) AS n,
           {dsum("f.l_quantity * d.dim_price", "weighted_qty")}
    FROM fact f JOIN dim d ON f.sk = d.sk
    GROUP BY f.l_returnflag
    """,
    survey_ids=("J5", "§skew"),
    doc="The skewed join of skew_join_salted WITHOUT salting: a merge "
    "hint forces a shuffled sort-merge join so the hot key lands in "
    "one shuffle partition and AQE's runtime skew-join split "
    "(spark.sql.adaptive.skewJoin) is the only defense. Benched "
    "side-by-side with the salted variant — the explicit-vs-adaptive "
    "skew strategies over identical data; identical oracle. At bench "
    "scale the hot partition sits under AQE's default split threshold "
    "(256 MB), so this measures the undefended worst case; the AQE "
    "split firing is asserted under lowered thresholds in "
    "tests/test_skew_strategies.py.",
)
def skew_join_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 5 == 0, 0)
        .otherwise(F.col("l_partkey") % 200)
        .alias("sk"),
        "l_returnflag",
        "l_quantity",
    )
    dim = (
        load(spark, sf_dir, "part")
        .groupBy((F.col("p_partkey") % 200).alias("sk"))
        .agg(F.min("p_retailprice").cast("double").alias("dim_price"))
    )
    joined = fact.join(dim.hint("merge"), "sk")
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr(dsum("l_quantity * dim_price", "weighted_qty")),
    )


@register(
    "rollup_hierarchy",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           {dsum("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    survey_ids=("A8", "§2.4-rollup"),
    doc="Hierarchical subtotals via ROLLUP grouping sets — beyond the "
    "reference (its 8 near-identical split aggregates in "
    "R/on_off_nflreadr.R:59-89 re-scan per grouping; grouping sets "
    "compute every level in ONE pass with partial aggregation). "
    "NULL-filled subtotal rows match DuckDB's ROLLUP exactly.",
)
def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.expr(dsum("l_quantity", "sum_qty")),
    )


@register(
    "hash_split_stats",
    f"""
    WITH tagged AS (
      SELECT {split_case("o_orderkey")} AS split,
             o_totalprice
      FROM orders
    )
    SELECT split, COUNT(*) AS n,
           {dsum("o_totalprice", "sum_price")}
    FROM tagged GROUP BY split
    """,
    survey_ids=("NS-text", "A1"),
    doc="Deterministic hash-based train/val/test split (80/10/10) — "
    "the reproducible-split primitive of a training-data pipeline: "
    "assignment is a pure function of the key (same row → same split "
    "on any cluster, any partitioning, any day), no sampling state, "
    "no shuffle beyond the final stats agg. Affine-mod arithmetic is "
    "integer-exact in both engines.",
)
def hash_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # shared expr with the oracle (operators/hashing.split_case) —
    # the mod-first form is overflow-safe at any key magnitude
    split = F.expr(split_case("o_orderkey"))
    return (
        o.select(split.alias("split"), "o_totalprice")
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.expr(dsum("o_totalprice", "sum_price")),
        )
    )


@register(
    "profile_columns",
    """
    SELECT 'l_quantity' AS col,
           COUNT(*) - COUNT(l_quantity) AS n_null,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           COUNT(*) - COUNT(l_discount),
           COUNT(DISTINCT l_discount),
           MIN(l_discount), MAX(l_discount)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax',
           COUNT(*) - COUNT(l_tax),
           COUNT(DISTINCT l_tax),
           MIN(l_tax), MAX(l_tax)
    FROM lineitem
    """,
    survey_ids=("A1", "A6", "A9"),
    doc="Column profiling (null count, cardinality, range) — the "
    "data-quality sweep run before any training job. Spark plan: ONE "
    "pass via unpivot (stack) + grouped agg, vs the oracle's three "
    "scans — same result, a third of the I/O; at 100 TB the "
    "difference is the job.",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_tax"]
    stacked = li.select(
        F.expr(
            "stack({}, {}) as (col, v)".format(
                len(cols), ", ".join(f"'{c}', {c}" for c in cols)
            )
        )
    )
    return stacked.groupBy("col").agg(
        (F.count("*") - F.count("v")).alias("n_null"),
        F.countDistinct("v").alias("n_distinct"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@register(
    "ntile_quartiles",
    f"""
    SELECT o_orderpriority, ntile_q, COUNT(*) AS n,
           {dsum("o_totalprice", "sum_price")}
    FROM (
      SELECT o_orderpriority, o_totalprice,
             NTILE(4) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
             ) AS ntile_q
      FROM orders
    ) t
    GROUP BY o_orderpriority, ntile_q
    """,
    survey_ids=("W8", "W9"),
    doc="NTILE quartile bucketing per group — SURVEY §2.5 notes the "
    "reference never uses ntile; it's the standard feature-binning "
    "primitive (quartile features, decile reports). Total order via "
    "unique-key tiebreak, so bucket assignment is deterministic on "
    "both engines.",
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("ntile_q"),
        )
        .groupBy("o_orderpriority", "ntile_q")
        .agg(
            F.count("*").alias("n"),
            F.expr(dsum("o_totalprice", "sum_price")),
        )
    )


@register(
    "snapshot_diff",
    """
    WITH v1 AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 100 != 0
    )
    SELECT status, COUNT(*) AS n FROM (
      SELECT CASE
               WHEN v2.o_orderkey IS NULL THEN 'removed'
               WHEN v1.o_orderkey IS NULL THEN 'added'
               WHEN v1.o_totalprice != v2.o_totalprice
                 OR v1.o_orderstatus != v2.o_orderstatus THEN 'changed'
               ELSE 'unchanged'
             END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    ) t GROUP BY status
    """,
    survey_ids=("J4", "P10"),
    doc="Snapshot diff (table-compare): full-outer join two table "
    "versions on the key and classify added/removed/changed/unchanged "
    "— the regression gate a pipeline runs between publishes (the "
    "reference eyeballs freshness via tail(5); this is the scalable "
    "form). One shuffle on the key; at 100 TB restrict both sides to "
    "changed partitions first (jobs/upsert pattern).",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    v1 = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    v2 = o.filter(F.col("o_orderkey") % 100 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    j = v1.alias("v1").join(
        v2.alias("v2"),
        F.col("v1.o_orderkey") == F.col("v2.o_orderkey"),
        "full_outer",
    )
    status = (
        F.when(F.col("v2.o_orderkey").isNull(), "removed")
        .when(F.col("v1.o_orderkey").isNull(), "added")
        .when(
            (F.col("v1.o_totalprice") != F.col("v2.o_totalprice"))
            | (F.col("v1.o_orderstatus") != F.col("v2.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return j.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n")
    )


@register(
    "null_safe_join",
    """
    WITH l AS (
      SELECT NULLIF(o_custkey % 50, 0) AS k, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    r AS (
      SELECT NULLIF(c_custkey % 50, 0) AS k, COUNT(*) AS dim_n
      FROM customer GROUP BY 1
    )
    SELECT COALESCE(CAST(l.k AS VARCHAR), 'NULL_KEY') AS k_repr,
           COUNT(*) AS n,
           CAST(SUM(r.dim_n) AS BIGINT) AS matched_dim_rows
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY 1
    """,
    survey_ids=("J1", "§2.9-null"),
    doc="Null-safe equi-join (IS NOT DISTINCT FROM / eqNullSafe) — a "
    "real R-parity point: dplyr's join default na_matches='na' MATCHES "
    "NA keys, SQL equality drops them; the reference's name-keyed "
    "joins (J9) inherit R's behavior. Null-safe equality stays a hash "
    "join (the null bucket is just another key).",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    l = o.select(
        F.nullif(F.col("o_custkey") % 50, F.lit(0)).alias("k"), "o_totalprice"
    )
    c = load(spark, sf_dir, "customer")
    r = (
        c.select(F.nullif(F.col("c_custkey") % 50, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("dim_n"))
    )
    j = l.join(r, l["k"].eqNullSafe(r["k"]))
    return (
        j.select(
            F.coalesce(l["k"].cast("string"), F.lit("NULL_KEY")).alias("k_repr"),
            "dim_n",
        )
        .groupBy("k_repr")
        .agg(
            F.count("*").alias("n"),
            F.sum("dim_n").cast("bigint").alias("matched_dim_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling — class-balanced downsample.
# ---------------------------------------------------------------------------

_STRAT_A = 2654435761  # Knuth multiplicative constant
_STRAT_B = 97
_STRAT_P = 2147483647  # Mersenne prime 2^31-1
_STRAT_K = 20


@register(
    "stratified_sample",
    f"""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {affine_hash("doc_id", _STRAT_A, _STRAT_B, _STRAT_P)},
                            doc_id
               ) AS rn
        FROM documents
    )
    SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= {_STRAT_K}
    """,
    survey_ids=("NS-text", "W3"),
    doc=f"Deterministic stratified sample: {_STRAT_K} documents per "
    "language, chosen by ranking an affine-mod hash of the key "
    "(integer-exact in both engines, same convention as "
    "hash_split_stats) — a pure function of the data, so the sample "
    "is reproducible on any cluster and any partitioning, unlike "
    "RAND()-based sampling. The per-stratum ROW_NUMBER is a single "
    "shuffle on lang; at 100 TB with few strata the hot path is the "
    "per-partition top-K each mapper can pre-prune (rank only needs "
    "the K smallest hashes per stratum), which AQE-sized partitions "
    "keep in memory.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    # shared expr with the oracle; mod-first keeps the product
    # < P * A ≈ 5.7e18 < 2^63 at any key magnitude
    h = F.expr(affine_hash("doc_id", _STRAT_A, _STRAT_B, _STRAT_P))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _STRAT_K)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "cube_order_matrix",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n,
           {dsum("o_totalprice", "sum_price")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    survey_ids=("A8", "§2.4-rollup"),
    doc="Full cross-tab via CUBE grouping sets: every (status, "
    "priority) margin — row totals, column totals, grand total — in "
    "ONE pass with partial aggregation (a pivot-table consumer's "
    "query; the reference builds each margin as a separate dplyr "
    "summarise). The grouping_id bitmask disambiguates subtotal rows "
    "from real NULL groups, and matches DuckDB's GROUPING() bit "
    "order.",
)
def cube_order_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
        F.expr(dsum("o_totalprice", "sum_price")),
    ).select("o_orderstatus", "o_orderpriority", "gid", "n", "sum_price")


@register(
    "ordered_array_head",
    """
    SELECT c_mktsegment,
           array_agg(c_custkey ORDER BY c_custkey) AS head_keys
    FROM (
        SELECT c_mktsegment, c_custkey,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment ORDER BY c_custkey
               ) AS rn
        FROM customer
    ) ranked
    WHERE rn <= 5
    GROUP BY c_mktsegment
    """,
    survey_ids=("A5", "W3", "§2.8-nest"),
    doc="Array-typed output through the driver contract: the 5 "
    "smallest customer keys per segment, collected into an ORDERED "
    "array. Spark's collect_list is shuffle-order-dependent (SURVEY "
    "§7 hard-part 1), so the array is sort_array'd after collection "
    "— the only way an array-valued result can be deterministic on a "
    "cluster; the oracle's array_agg(ORDER BY) states the same "
    "contract declaratively.",
)
def ordered_array_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
    return (
        c.select("c_mktsegment", "c_custkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("c_mktsegment")
        .agg(F.sort_array(F.collect_list("c_custkey")).alias("head_keys"))
    )


def _hist_quantile_oracle() -> str:
    from nfl_data_pipeline_spark.operators.sketches import (
        duck_bucket_mid,
        duck_len_bucket,
    )

    nt = "CAST(len(string_split(text, ' ')) AS BIGINT)"
    return f"""
    WITH h AS (
      SELECT source, {duck_len_bucket(nt)} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE {nt} IS NOT NULL
      GROUP BY source, bucket
    ),
    c AS (
      SELECT source, bucket, n,
             SUM(n) OVER (PARTITION BY source ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             SUM(n) OVER (PARTITION BY source) AS total,
             {duck_bucket_mid('bucket')} AS mid
      FROM h
    )
    SELECT source,
           MIN(CASE WHEN cum * 100 >= total * 50 THEN mid END) AS p50,
           MIN(CASE WHEN cum * 100 >= total * 95 THEN mid END) AS p95,
           MIN(CASE WHEN cum * 100 >= total * 99 THEN mid END) AS p99
    FROM c GROUP BY source ORDER BY source
    """


@register(
    "length_histogram_quantiles",
    _hist_quantile_oracle(),
    survey_ids=("NS-text", "A12"),
    doc="Per-source token-length quantiles recovered from the "
    "MERGEABLE length histogram (operators/sketches.py): buckets are "
    "(decimal length, two leading digits) — pure integer/string "
    "arithmetic, bit-identical across engines, no log10 boundary "
    "drift — and the state is plain (key, bucket, n) counts that "
    "merge_grouped_sums can maintain incrementally in a tx table "
    "(streaming/stats.py). This is the percentile that survives "
    "streaming: percentile_approx answers one-shot queries; this "
    "answers 'p95 doc length so far' after any number of O(batch) "
    "merges, within a ~5% bucket width.",
)
def length_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.sketches import (
        histogram_counts,
        histogram_quantiles,
    )

    docs = load(spark, sf_dir, "documents").select(
        "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("nt")
    )
    hist = histogram_counts(docs, ["source"], "nt")
    return histogram_quantiles(hist, ["source"], (0.5, 0.95, 0.99)).orderBy(
        "source"
    )


# ---- the tx table AS a Catalyst source, oracle-gated ----------------------

_TXSRC_CACHE: dict = {}


@register(
    "txtable_source_agg",
    f"""
    SELECT event_type,
           user_id % 50 AS user_cohort,
           COUNT(*) AS n_events,
           {dsum('value', 'total_value')}
    FROM events
    WHERE event_type IN ('click', 'view') AND value >= 5.0
    GROUP BY event_type, user_id % 50
    """,
    survey_ids=("S1", "S10"),
    doc="End-to-end gate on the txtable Python DataSource: events are "
    "staged into a transactional table (partitioned by event_type, "
    "value stats recorded), read back through "
    "spark.read.format('txtable') — the IN filter prunes partitions "
    "and the value comparison prunes files at the MANIFEST level via "
    "pushFilters before any task launches — then aggregated with the "
    "DECIMAL exact-sum. The oracle computes the same aggregate "
    "straight over the fixture, so the gate proves the round trip "
    "(stage → commit → prune → scan → project) loses and invents "
    "nothing. Table built once per (session, sf_dir).",
)
def txtable_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from nfl_data_pipeline_spark.catalog import session_uuid
    from nfl_data_pipeline_spark.jobs.txlog import TxTable
    from nfl_data_pipeline_spark.sources.txsource import TxTableDataSource

    key = (session_uuid(spark), sf_dir)
    root = _TXSRC_CACHE.get(key)
    if root is None:
        spark.dataSource.register(TxTableDataSource)
        root = tempfile.mkdtemp(prefix="txsrcq_") + "/events_tx"
        t = TxTable(root)
        e = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        t.commit(
            t.stage_files(e, "event_type", stats_cols=["value"]),
            batch_id="load",
        )
        _TXSRC_CACHE[key] = root
    df = (
        spark.read.format("txtable")
        .option("path", root)
        .option("partitionColumn", "event_type")
        .load()
        .filter(
            F.col("event_type").isin("click", "view")
            & (F.col("value") >= 5.0)
        )
    )
    return df.groupBy(
        "event_type", (F.col("user_id") % 50).alias("user_cohort")
    ).agg(
        F.count("*").alias("n_events"),
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)"
        ).alias("total_value"),
    )


# ---- one-scan table profile ------------------------------------------------

_PROFILE_NUM = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
)
_PROFILE_STR = ("l_returnflag", "l_linestatus")


def _profile_oracle() -> str:
    legs = []
    for c in _PROFILE_NUM:
        legs.append(f"""
        SELECT '{c}' AS col,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS DOUBLE) AS min_num,
               CAST(MAX({c}) AS DOUBLE) AS max_num,
               CAST(SUM(CAST(({c}) AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT({c}) AS avg_num,
               CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str
        FROM lineitem""")
    for c in _PROFILE_STR:
        legs.append(f"""
        SELECT '{c}' AS col,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(NULL AS DOUBLE) AS min_num,
               CAST(NULL AS DOUBLE) AS max_num,
               CAST(NULL AS DOUBLE) AS avg_num,
               MIN({c}) AS min_str,
               MAX({c}) AS max_str
        FROM lineitem""")
    return " UNION ALL ".join(legs) + " ORDER BY col"


@register(
    "profile_table",
    _profile_oracle(),
    survey_ids=("A1", "A6", "A9"),
    doc="One-PASS-per-column data-quality profile: null count, EXACT "
    "distinct count, and min/max (numeric as double, strings as "
    "strings) for 10 columns of lineitem, stacked long (the "
    "corr_grid pattern) — the first step of any corpus intake at "
    "100 TB, where 10 separate profiling scans would read the table "
    "10 times. The multi-column exact COUNT(DISTINCT) plans as one "
    "Expand+shuffle (factor = n_columns); the exact dial runs the "
    "distincts in their OWN aggregate so the cheap stats don't ride "
    "the Expand-replicated stream (r10: measured 4.1 s -> 2.4 s at "
    "sf0.1), and the exact=False dial swaps to HLL "
    "approx_count_distinct — no Expand, truly one scan — as the "
    "100-TB path (documented trade; the oracle pins the exact "
    "form).",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return table_profile(li, _PROFILE_NUM, _PROFILE_STR).orderBy("col")


def _profile_media_oracle() -> str:
    davg_len = (
        "CAST(SUM(CAST(({ln}) AS DECIMAL(30,6))) AS DOUBLE) / COUNT({c})"
    )
    return f"""
    SELECT 'payload' AS col,
           CAST(COUNT(*) - COUNT(text) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT encode(text)) AS BIGINT) AS n_distinct,
           CAST(MIN(octet_length(encode(text))) AS DOUBLE) AS min_num,
           CAST(MAX(octet_length(encode(text))) AS DOUBLE) AS max_num,
           {davg_len.format(ln="octet_length(encode(text))", c="text")}
             AS avg_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM documents
    UNION ALL
    SELECT 'embedding' AS col,
           CAST(COUNT(*) - COUNT(embedding) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n_distinct,
           CAST(MIN(len(embedding)) AS DOUBLE) AS min_num,
           CAST(MAX(len(embedding)) AS DOUBLE) AS max_num,
           {davg_len.format(ln="len(embedding)", c="embedding")}
             AS avg_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM embeddings
    ORDER BY col
    """


@register(
    "profile_media",
    _profile_media_oracle(),
    survey_ids=("A1", "A9", "NS-text"),
    doc="One-scan profile over NON-SCALAR columns — the intake "
    "contract for media/embedding tables (a 100-TB profile must not "
    "choke on binary columns, nor ship payloads through a shuffle): "
    "a binary column (documents.text as utf-8 bytes, the stand-in "
    "for an image/audio payload) profiles as null count + distinct "
    "over xxhash64 (8 bytes/row cross the exchange, never the "
    "payload; equal to exact distinct barring ~2^-64 collisions — "
    "the oracle pins the exact value) + byte-length min/max/avg; an "
    "array column (embeddings.embedding) the same with length = "
    "cardinality. Value-order stats are undefined for both classes "
    "and stay NULL explicitly. Same table_profile operator, same "
    "exact/approx distinct dial (approx stays Expand-free — "
    "plan-asserted).",
)
def profile_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        F.col("text").cast("binary").alias("payload")
    )
    emb = load(spark, sf_dir, "embeddings").select("embedding")
    p1 = table_profile(docs, (), (), bin_cols=("payload",))
    p2 = table_profile(emb, (), (), arr_cols=("embedding",))
    return p1.unionByName(p2).orderBy("col")


def table_profile(
    df: DataFrame,
    num_cols: tuple[str, ...],
    str_cols: tuple[str, ...],
    bin_cols: tuple[str, ...] = (),
    arr_cols: tuple[str, ...] = (),
    exact: bool = True,
) -> DataFrame:
    """The reusable one-pass profiler. ``exact=False`` swaps the
    per-column COUNT(DISTINCT) (an Expand ×n_cols plan) for HLL
    approx_count_distinct — no expand, one map-side-combined agg —
    the 100-TB dial.

    Column-class contract (a 100-TB intake profile must not choke on
    media/embedding columns, nor ship their payloads through a
    shuffle):

    - numeric: n_null, distinct, min/max (double), avg (exact
      DECIMAL-sum based, order-independent).
    - string: n_null, distinct, min/max (string); avg is undefined →
      NULL, explicitly.
    - binary: n_null; distinct over ``xxhash64(col)`` — 8 bytes per
      row cross the exchange instead of the payload (equal to exact
      distinct barring ~2^-64 collisions; the media-profile oracle
      pins the exact value at test scale); min/max/avg of the BYTE
      LENGTH ride the num slots. Value ordering is undefined for
      binary → min_str/max_str stay NULL.
    - array: same as binary with length = cardinality (``size``).
    """
    def nd(col):
        return (
            F.countDistinct(col) if exact else F.approx_count_distinct(col)
        ).cast("long")

    def dlen_avg(length_expr: str, cnt_col: str) -> str:
        # exact order-independent avg (the queries/exact.py davg
        # pattern): DECIMAL sum, one double division at the end
        return (
            f"CAST(SUM(CAST(({length_expr}) AS DECIMAL(30,6))) AS DOUBLE)"
            f" / COUNT({cnt_col})"
        )

    all_cols = num_cols + str_cols + bin_cols + arr_cols
    nd_aggs = []
    cheap_aggs = []
    for i, c in enumerate(all_cols):
        # distinct for payload classes runs over the 64-bit hash —
        # null-guarded, because xxhash64(NULL) is the seed hash, not
        # NULL, and would count nulls as a distinct value
        hashed = F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c)))
        nd_aggs.append(
            (nd(hashed) if c in bin_cols or c in arr_cols else nd(c)).alias(
                f"_nd{i}"
            )
        )
        # coalesce: SUM over ZERO rows is NULL, but the profile
        # contract (and the COUNT(*)-COUNT(c) oracle form) is 0
        # nulls on an empty table
        cheap_aggs.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0)
            ).alias(f"_nn{i}")
        )
        if c in num_cols:
            cheap_aggs += [
                F.min(c).cast("double").alias(f"_mn{i}"),
                F.max(c).cast("double").alias(f"_mx{i}"),
                F.expr(dlen_avg(c, c)).alias(f"_av{i}"),
            ]
        elif c in str_cols:
            cheap_aggs += [
                F.min(c).alias(f"_sn{i}"), F.max(c).alias(f"_sx{i}")
            ]
        else:
            # size(NULL) is -1 under spark.sql.legacy.sizeOfNull —
            # guard so NULL payloads contribute no length stats
            ln = (
                f"octet_length({c})"
                if c in bin_cols
                else f"CASE WHEN {c} IS NULL THEN NULL ELSE size({c}) END"
            )
            cheap_aggs += [
                F.expr(f"MIN({ln})").cast("double").alias(f"_mn{i}"),
                F.expr(f"MAX({ln})").cast("double").alias(f"_mx{i}"),
                F.expr(dlen_avg(ln, c)).alias(f"_av{i}"),
            ]
    if exact:
        # the multi-column exact COUNT(DISTINCT) plans as an Expand
        # that replicates every row n_cols times; keeping the cheap
        # stats in the SAME agg makes nulls/min/max/avg ride the
        # replicated stream too (measured +70% at sf0.1 when avg_num
        # landed). Two aggregates over the same scan + a 1-row cross
        # join keep the Expand's cost to the distincts alone.
        agged = df.agg(*cheap_aggs).crossJoin(df.agg(*nd_aggs))
    else:
        # approx distinct has no Expand — one pass stays optimal
        agged = df.agg(*cheap_aggs, *nd_aggs)
    cells = []
    for i, c in enumerate(all_cols):
        if c in str_cols:
            cells.append(
                f"'{c}', _nn{i}, _nd{i}, CAST(NULL AS DOUBLE),"
                f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
                f" _sn{i}, _sx{i}"
            )
        else:
            cells.append(
                f"'{c}', _nn{i}, _nd{i}, _mn{i}, _mx{i}, _av{i},"
                " CAST(NULL AS STRING), CAST(NULL AS STRING)"
            )
    n = len(cells)
    return agged.selectExpr(
        f"stack({n}, {', '.join(cells)}) AS"
        " (col, n_null, n_distinct, min_num, max_num, avg_num,"
        " min_str, max_str)"
    )


# --- mergeable histogram profile dial (VERDICT r10 next #3) ---------------

_HIST_COLS = (
    "l_quantity", "l_linenumber", "l_partkey", "l_suppkey", "l_orderkey"
)
_HIST_PROBS = (0.25, 0.5, 0.75, 0.95)


def profile_histograms(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Per-column mergeable histogram STATE — (col, bucket, n) rows
    over the two-leading-digit integer buckets of
    ``operators/sketches.py`` (bit-identical cross-engine: pure
    integer/string arithmetic, no log10 boundary drift). One scan:
    the columns stack long (×n_cols rows through a map-side-combined
    aggregate whose OUTPUT is bounded by n_cols × ~90·decades — the
    rows replicate, the exchange doesn't), and values floor to
    BIGINT first because Spark's double→int cast truncates while
    DuckDB's rounds. The state rows are plain sums, so
    ``merge_grouped_sums`` maintains them incrementally
    (streaming/profilehist.py) — the profiler's
    continuous-percentile dial that ``percentile_approx`` (one-shot,
    non-mergeable state) cannot provide."""
    from nfl_data_pipeline_spark.operators.sketches import histogram_counts

    pairs = ", ".join(
        f"'{c}', CAST(FLOOR({c}) AS BIGINT)" for c in cols
    )
    stacked = df.selectExpr(f"stack({len(cols)}, {pairs}) AS (col, v)")
    return histogram_counts(stacked, ["col"], "v")


def _hist_quantiles_oracle(
    table: str = "lineitem", cols: tuple = None
) -> str:
    from nfl_data_pipeline_spark.operators.sketches import (
        duck_bucket_mid,
        duck_len_bucket,
    )

    stacked = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST(FLOOR({c}) AS BIGINT) AS v"
        f" FROM {table}"
        for c in (cols if cols is not None else _HIST_COLS)
    )
    sel = []
    for p in _HIST_PROBS:
        p100 = round(p * 100)
        sel.append(
            f"MIN(CASE WHEN cum * 100 >= total * {p100} THEN mid END)"
            f" AS p{p100}"
        )
    return f"""
    WITH s AS ({stacked}),
    h AS (
      SELECT col, {duck_len_bucket('v')} AS bucket, COUNT(*) AS n
      FROM s WHERE v IS NOT NULL
      GROUP BY col, {duck_len_bucket('v')}
    ),
    c AS (
      SELECT col, n,
             SUM(n) OVER (PARTITION BY col ORDER BY bucket) AS cum,
             SUM(n) OVER (PARTITION BY col) AS total,
             {duck_bucket_mid('bucket')} AS mid
      FROM h
    )
    SELECT col, {', '.join(sel)}
    FROM c GROUP BY col ORDER BY col
    """


@register(
    "profile_hist_quantiles",
    _hist_quantiles_oracle(),
    survey_ids=("A12",),
    doc="Profiler percentile dial over MERGEABLE histogram state: "
    "each numeric column buckets by (decimal length, two leading "
    "digits) — integer math both engines, so the oracle reproduces "
    "the exact bucket ids and the integer cum*100 >= total*p "
    "recovery rule and the hash match is EXACT, unlike any "
    "percentile_approx comparison. Error contract: recovered "
    "quantile = bucket midpoint, relative error <= half a bucket "
    "width (~5.3%), exact for values below 10 "
    "(tests/test_profile_hist.py pins it against true percentiles). "
    "The same (col, bucket, n) state merges incrementally via the "
    "rollup tx machinery (streaming/profilehist.py), which is the "
    "point: a 100-TB continuous intake keeps per-column percentile "
    "state current at O(batch) per refresh, no corpus re-scan.",
)
def profile_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.sketches import (
        histogram_quantiles,
    )

    li = load(spark, sf_dir, "lineitem")
    hist = profile_histograms(li, _HIST_COLS)
    return histogram_quantiles(hist, ["col"], _HIST_PROBS).orderBy("col")


@register(
    "profile_hist_signed",
    _hist_quantiles_oracle("customer", ("c_acctbal",)),
    survey_ids=("A12",),
    doc="Signed-domain twin of profile_hist_quantiles over the "
    "naturally negative customer.c_acctbal (r11 VERDICT next #3): "
    "values below -10 land in the MIRRORED decade family "
    "(operators/sketches.py — bucket -20 - posbucket(-x), every "
    "div/mod operand kept positive so the ids stay bit-identical "
    "across engines and globally value-monotone), |x| < 10 stays "
    "exact-singleton, and the integer cum*100 >= total*p recovery "
    "rule needs no sign special-casing. Same oracle-EXACT hash gate "
    "and same mergeable (col, bucket, n) state as the non-negative "
    "profile; state cardinality stays decade-bounded on either sign "
    "(the pre-r12 scheme was correct but unbounded below zero: one "
    "singleton per distinct negative value).",
)
def profile_hist_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.sketches import (
        histogram_quantiles,
    )

    cust = load(spark, sf_dir, "customer")
    hist = profile_histograms(cust, ("c_acctbal",))
    return histogram_quantiles(hist, ["col"], _HIST_PROBS).orderBy("col")


@register(
    "profile_table_approx",
    None,  # HLL estimates are engine-specific — no cross-engine oracle
    survey_ids=("A1", "A9"),
    doc="The 100-TB dial of profile_table as its own bench headline "
    "(VERDICT r10 next #8): identical output shape with n_distinct "
    "from HLL approx_count_distinct — ONE map-side-combined "
    "aggregate pass, no Expand anywhere (plan-asserted in "
    "tests/test_plan_shape.py). Rows-only correctness by design: "
    "Spark's HLL estimate has no cross-engine oracle; the EXACT twin "
    "(profile_table, same operator with exact=True) carries the "
    "value-hash gate for the shared plumbing, and "
    "SCALING.md §\"Exact vs approximate COUNT DISTINCT\" records the "
    "estimate's error envelope.",
)
def profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return table_profile(
        li, _PROFILE_NUM, _PROFILE_STR, exact=False
    ).orderBy("col")
