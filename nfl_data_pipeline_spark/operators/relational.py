"""Thin relational ops the reference repeats everywhere — encoded
once, with the implicit-order hazards made explicit (SURVEY.md §7
hard-part 1). These are compositions over DataFrames, not a new API:
Catalyst sees plain window/join/filter plans.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input arrives with fewer
    partitions than the session's shuffle-partition count — the "one
    small parquet file → one task" trap that serializes expensive
    per-row compute (shingle hashing, pairwise scoring fan-outs) on a
    single core while the rest of the cluster idles.

    The shuffle moves only the input rows, never any downstream
    fan-out; inputs that are already well-partitioned (the 100 TB
    case) pass through untouched, so this is free where it isn't
    needed and ~|cores|× where it is.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


def top1_per_group(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """``arrange(...) %>% group_by(keys) %>% slice(1)`` —
    R/epa_predict.R:29-33 et al. `order` must be a total order
    (include a unique key) or the result is nondeterministic."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def bind_cols_by_rownum(
    left: DataFrame,
    right: DataFrame,
    left_order: Sequence[Column],
    right_order: Sequence[Column],
) -> DataFrame:
    """Positional ``bind_cols`` with ragged padding —
    R/nfc_west_starting_qbs.R:69-94: row_number over explicit orders
    on each side, full-outer join on it (shorter side null-pads).
    Ambiguous column names get a ``_r`` suffix on the right."""
    lw = Window.orderBy(*left_order)
    rw = Window.orderBy(*right_order)
    lhs = left.withColumn("__rn", F.row_number().over(lw))
    rhs = right.withColumn("__rn", F.row_number().over(rw))
    for c in set(left.columns) & set(right.columns):
        rhs = rhs.withColumnRenamed(c, f"{c}_r")
    return lhs.join(rhs, "__rn", "full_outer").withColumnRenamed("__rn", "row_num")


def grouped_rescale(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    out_col: str,
    strict: bool = False,
) -> DataFrame:
    """Per-group min-max rescale to 0-100 —
    pff/99_passblock_piece.R:43-53. ``strict=True`` reproduces R's
    no-na.rm ``min(x)``/``max(x)``: one NA in the group NAs the
    whole group's rescaled column (the mutate's ``wr - NA`` poisons
    every row), where SQL MIN/MAX skip NULLs. Plan call sites pass
    strict=True; the SQL-oracle-gated W10 query keeps SQL
    semantics."""
    w = Window.partitionBy(*keys)
    lo, hi = F.min(col).over(w), F.max(col).over(w)
    scaled = 100.0 * (F.col(col) - lo) / (hi - lo)
    if strict:
        any_null = F.max(F.col(col).isNull().cast("int")).over(w)
        scaled = F.when(any_null == 0, scaled)
    return df.withColumn(out_col, scaled)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    n_salts: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed (left) side's key with
    a random-ish shard id derived from a unique column hash, replicate
    the right side across all shards, join on (key, salt).

    AQE's skew-join handles moderate skew automatically; this is the
    explicit form for pathological single-key hotspots (a 100 TB join
    where one key holds 10% of rows). Result is row-identical to the
    plain join (asserted in tests).
    """
    salt = (F.spark_partition_id() + F.monotonically_increasing_id()) % n_salts
    lhs = left.withColumn("__salt", salt.cast("int"))
    rhs = right.join(
        F.broadcast(
            left.sparkSession.range(n_salts).select(
                F.col("id").cast("int").alias("__salt")
            )
        ),
        how="cross",
    )
    out = lhs.join(rhs, [key, "__salt"], how)
    return out.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    on: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Backward as-of join: for each left row, attach the latest right
    row with ``right.on <= left.on`` within the same ``by`` keys
    (DuckDB ``ASOF LEFT JOIN`` semantics; left rows with no prior
    right row keep NULLs).

    Spark lacks the operator; the scalable plan is the union-ffill
    trick — ONE shuffle on ``by`` (no range-join cross product, no
    per-key explosion): tag both sides, sort within key by
    ``(on, side)`` with right first at ties (so equal timestamps
    match, = the ``<=`` bound), and carry right's values forward with
    ``last(ignorenulls=True)``. O(n log n) per key, skew-safe under
    AQE, vs the naive inequality-join's O(|L|·|R|) per key.

    Ties inside ``right`` on (by, on) are resolved by whichever sorts
    last — pre-dedup the right side if that matters.
    """
    by = list(by)
    # Right rows with a NULL `on` can never satisfy right.on <= left.on
    # (ASOF semantics; DuckDB drops them too). Without this filter they
    # sort first (asc nulls-first) and last(ignorenulls) would carry
    # their values into left rows that should keep NULLs.
    right = right.filter(F.col(on).isNotNull())
    lhs = left.withColumn("__side", F.lit(1))
    for c in value_cols:
        lhs = lhs.withColumn(f"__r_{c}", F.lit(None).cast(right.schema[c].dataType))
    rhs = right.select(
        *by,
        F.col(on),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    for c in left.columns:
        if c not in set(by) | {on}:
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = lhs.unionByName(rhs)
    w = Window.partitionBy(*by).orderBy(on, "__side").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    carried = unioned.select(
        *left.columns,
        "__side",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).drop("__side")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    by: Sequence[str],
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int,
) -> DataFrame:
    """Point-in-interval join: each ``points`` row pairs with every
    ``intervals`` row (same ``by`` keys) whose ``[lo, hi]`` contains
    its ``point_col``. Inner join; no reference analog (the reference
    has only equi-joins, SURVEY §2.3) — beyond-reference operator like
    ``asof_join``.

    Spark would execute the naive inequality join as a per-key
    nested loop (BroadcastNestedLoopJoin or an O(|L|·|R|) condition
    scan). The scalable plan is bin bucketing: replicate each interval
    into the ``bin_width``-sized bins it overlaps (``sequence(floor(
    lo/w), floor(hi/w))`` — replication factor = interval span / w),
    map each point to its single bin, then hash-join on
    ``(by, bin)`` and re-check the exact bounds. Equi-join + bounded
    fan-out ≈ O(|L| + |R|·span/w) shuffled rows, AQE/skew-safe.
    Pick ``bin_width`` ≈ typical interval span so replication stays
    O(1) per interval.

    Both bound columns must be castable to the point column's
    numeric/temporal type; bounds are inclusive.
    """
    by = list(by)
    w = F.lit(bin_width)
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w), F.floor(F.col(hi_col) / w)
            )
        ),
    )
    pt = points.withColumn("__bin", F.floor(F.col(point_col) / w))
    out = pt.join(iv, [*by, "__bin"]).filter(
        (F.col(point_col) >= F.col(lo_col))
        & (F.col(point_col) <= F.col(hi_col))
    )
    return out.drop("__bin")


def distinct_ordered_tail(
    df: DataFrame, col: str, n: int
) -> DataFrame:
    """The freshness probe of 2_scrape_new_games.R:16-22 — last n
    distinct ids — with the insertion-order dependence replaced by an
    explicit descending sort on the id itself (game_id sorts
    chronologically by construction)."""
    return (
        df.select(col).distinct().orderBy(F.col(col).desc()).limit(n)
    )


def r_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """dplyr join semantics for the R-parity plans: ``na_matches =
    "na"`` is dplyr's DEFAULT — an NA key MATCHES an NA key — where
    SQL's ``NULL = NULL`` is never true, so a plain Spark equi-join
    silently drops every NA-keyed match R would make (left join: the
    right side's columns come back NULL; full join: the two NA rows
    stay as TWO rows instead of one). Implemented with null-safe
    equality (``<=>`` — still an equi-join key, so broadcast/hash
    strategies apply unchanged) + USING-style output: one copy of
    each key (left's for left/inner — R keeps x's — and
    ``coalesce(x, y)`` for full), right's non-key columns appended.

    Divergence is live only when a key column can be NULL on the
    matching side — see PARITY.md's r9 "NA join keys" audit for
    which reference joins that is.
    """
    import functools
    import operator as _op

    la, ra = left.alias("_rj_l"), right.alias("_rj_r")
    cond = functools.reduce(
        _op.and_,
        [
            F.col(f"_rj_l.{k}").eqNullSafe(F.col(f"_rj_r.{k}"))
            for k in keys
        ],
    )
    full_names = {"full", "full_outer", "fullouter", "outer"}
    right_names = {"right", "right_outer", "rightouter"}
    left_names = {"left", "left_outer", "leftouter", "inner"}
    if how not in full_names | right_names | left_names:
        # semi/anti/cross have no USING-output contract here — a
        # silently wrong key column is worse than an error
        raise ValueError(f"r_join does not support how={how!r}")
    joined = la.join(ra, cond, how)
    if how in full_names:
        key_cols = [
            F.coalesce(F.col(f"_rj_l.{k}"), F.col(f"_rj_r.{k}")).alias(k)
            for k in keys
        ]
    elif how in right_names:
        # dplyr right_join keeps y's keys
        key_cols = [F.col(f"_rj_r.{k}").alias(k) for k in keys]
    else:
        key_cols = [F.col(f"_rj_l.{k}").alias(k) for k in keys]
    left_rest = [
        F.col(f"_rj_l.{c}") for c in left.columns if c not in keys
    ]
    right_rest = [
        F.col(f"_rj_r.{c}") for c in right.columns if c not in keys
    ]
    return joined.select(*key_cols, *left_rest, *right_rest)
