"""Sketch-based approximate aggregation — the 100 TB toolbox the
reference never needed (its 1.2M rows fit in RAM): HyperLogLog++
distinct counts and t-digest-style quantiles, both mergeable across
partitions (one pass, bounded memory, no exact shuffle of distincts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_distinct(
    df: DataFrame, keys: Sequence[str], col: str, rsd: float = 0.02
) -> DataFrame:
    """HLL++ approximate COUNT(DISTINCT col) per key group.

    rsd = relative standard deviation target. Unlike exact distinct
    aggregation, the sketch merges map-side: no shuffle of the
    distinct values themselves.
    """
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(col, rsd=rsd).alias(f"approx_n_{col}"),
        F.count("*").alias("n_rows"),
    )


def approx_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    probs: Sequence[float] = (0.5, 0.95, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Approximate per-group quantiles (Greenwald-Khanna via
    percentile_approx): one mergeable pass, memory bounded by
    `accuracy`, vs the exact percentile's full sort per group."""
    aggs = [
        F.percentile_approx(col, p, accuracy).alias(
            f"p{str(p).replace('0.', '')}"
        )
        for p in probs
    ]
    return df.groupBy(*keys).agg(*aggs)


# --- mergeable length histogram ------------------------------------------
#
# percentile_approx / HLL answer one-shot queries; maintaining
# percentiles ACROSS incremental batches (jobs/txlog state) needs a
# sketch whose state is plain mergeable SUMS. This one buckets an
# integer metric by (decimal length, two leading digits):
#   |x| < 10      -> singleton bucket x - 10        (exact)
#   x >= 10       -> (len(x)-2)*90 + first2(x) - 10 (rel. width ~5%)
#   x <= -10      -> -20 - posbucket(-x)            (mirrored decades)
# The mirrored family (r11 VERDICT next #3: without it every distinct
# negative value was its own singleton — correct but UNBOUNDED state
# cardinality on a negative domain) keeps the id ordering globally
# value-monotone: mirrored (≤ -20) < singletons [-19, -1] < positive
# decades (≥ 0), so cumulative-count quantile recovery needs no
# special casing. Bucketing is pure integer/string arithmetic —
# length(CAST AS STRING)), integer div by an exact power of ten, with
# every div/mod operand kept POSITIVE (negatives go through -x) so
# Spark and DuckDB produce bit-identical bucket ids (no log10
# boundary drift and no truncate-vs-floor division skew), and the
# state is just (key, bucket, n) counts that merge_grouped_sums can
# maintain. Quantile recovery walks the cumulative counts and returns
# the bucket midpoint: relative error ≤ half a bucket width (~5.3%),
# exact for |x| < 10. Domain limit: LONG_MIN itself cannot be
# mirrored (-x overflows); metrics here are counts and lengths, far
# inside that bound.

HIST_SUB = 90  # two-leading-digit mantissa buckets per decade

# Bucket-scheme version, stamped into every maintained histogram
# state table's commit meta. v2 = r12's mirrored negative decade
# family: it REINTERPRETS ids ≤ -20 (previously singleton values
# x = id + 10, now mirrored decades), so state written under v1 that
# ever contained values ≤ -10 would decode to wrong midpoints and
# new batches would double-represent those values under different
# ids. The stamp turns that silent corruption into a refused merge —
# same contract as the near-dup registries' gate_config.
HIST_SCHEME = 2


def check_hist_scheme(table) -> dict:
    """Registry-compatibility guard for maintained histogram state
    (mirrors jobs/txlog.check_gate_config): raise before any merge or
    read when the persisted state was written under a different — or
    unstamped, hence unverifiable — bucket scheme. Returns the meta
    dict for the caller to stamp into its commit."""
    v = table.latest_version()
    if v is not None:
        stamped = table.meta(v).get("hist_scheme")
        if stamped != HIST_SCHEME:
            raise ValueError(
                f"histogram state at {table.root} was written under "
                f"bucket scheme {stamped!r}; current engine uses "
                f"{HIST_SCHEME} (r12 mirrored negative decades). "
                "Quantiles recovered across schemes are silently "
                "wrong — rebuild the state table from the corpus"
            )
    return {"hist_scheme": HIST_SCHEME}


def sp_len_bucket(x: str) -> str:
    """Spark SQL: deterministic log-ish bucket id of integer ``x``."""
    d = f"length(CAST({x} AS STRING))"
    p = f"CAST(power(10, {d} - 2) AS BIGINT)"  # exact for d-2 <= 15
    dn = f"length(CAST(-({x}) AS STRING))"
    pn = f"CAST(power(10, {dn} - 2) AS BIGINT)"
    return (
        f"CASE WHEN {x} > -10 AND {x} < 10 THEN {x} - 10 "
        f"WHEN {x} >= 10 THEN "
        f"({d} - 2) * {HIST_SUB} + (CAST({x} AS BIGINT) div {p}) - 10 "
        f"ELSE -20 - (({dn} - 2) * {HIST_SUB} "
        f"+ (CAST(-({x}) AS BIGINT) div {pn}) - 10) "
        "END"
    )


def duck_len_bucket(x: str) -> str:
    """DuckDB: the same bucket id, same integer math."""
    d = f"length(CAST({x} AS VARCHAR))"
    p = f"CAST(power(10, {d} - 2) AS BIGINT)"
    dn = f"length(CAST(-({x}) AS VARCHAR))"
    pn = f"CAST(power(10, {dn} - 2) AS BIGINT)"
    return (
        f"CASE WHEN {x} > -10 AND {x} < 10 THEN {x} - 10 "
        f"WHEN {x} >= 10 THEN "
        f"({d} - 2) * {HIST_SUB} + (CAST({x} AS BIGINT) // {p}) - 10 "
        f"ELSE -20 - (({dn} - 2) * {HIST_SUB} "
        f"+ (CAST(-({x}) AS BIGINT) // {pn}) - 10) "
        "END"
    )


def sp_bucket_mid(b: str) -> str:
    """Spark SQL: representative value of bucket ``b`` (midpoint of
    [lo, hi); exact value for the singleton buckets)."""
    d = f"CAST(({b}) div {HIST_SUB} AS DOUBLE)"
    mant = f"(({b}) % {HIST_SUB} + 10)"
    nb = f"(-({b}) - 20)"  # mirrored id -> positive-family id
    nd = f"CAST({nb} div {HIST_SUB} AS DOUBLE)"
    nmant = f"({nb} % {HIST_SUB} + 10)"
    return (
        f"CASE WHEN ({b}) >= 0 THEN ({mant} + 0.5) * power(10, {d}) "
        f"WHEN ({b}) > -20 THEN CAST(({b}) + 10 AS DOUBLE) "
        f"ELSE -(({nmant} + 0.5) * power(10, {nd})) END"
    )


def duck_bucket_mid(b: str) -> str:
    d = f"CAST(({b}) // {HIST_SUB} AS DOUBLE)"
    mant = f"(({b}) % {HIST_SUB} + 10)"
    nb = f"(-({b}) - 20)"
    nd = f"CAST({nb} // {HIST_SUB} AS DOUBLE)"
    nmant = f"({nb} % {HIST_SUB} + 10)"
    return (
        f"CASE WHEN ({b}) >= 0 THEN ({mant} + 0.5) * power(10, {d}) "
        f"WHEN ({b}) > -20 THEN CAST(({b}) + 10 AS DOUBLE) "
        f"ELSE -(({nmant} + 0.5) * power(10, {nd})) END"
    )


def histogram_counts(
    df: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """Mergeable histogram state: (keys..., bucket, n). One hash
    aggregate with map-side combine — the state cardinality is
    O(|keys| × ~90·decades), independent of row count. NULL metric
    values are excluded: a NULL bucket row would also diverge across
    engines at recovery time (Spark windows sort NULLS FIRST,
    DuckDB's ORDER BY sorts them last, shifting every cumulative
    count); null-rate belongs to profile_table, not the histogram."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(*keys, F.expr(sp_len_bucket(col)).alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame, keys: Sequence[str], probs: Sequence[float]
) -> DataFrame:
    """Per-key quantiles recovered from histogram state. The
    threshold compare is pure integer (``100·cum ≥ p100·total``), so
    recovery is deterministic cross-engine. Returns one row per key
    with a ``p{NN}`` column per requested quantile."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(*keys)
    c = (
        hist.withColumn("cum", F.sum("n").over(w))
        .withColumn("total", F.sum("n").over(wt))
        .withColumn("mid", F.expr(sp_bucket_mid("bucket")))
    )
    aggs = []
    for p in probs:
        p100 = round(p * 100)
        aggs.append(
            F.min(
                F.when(F.col("cum") * 100 >= F.col("total") * p100, F.col("mid"))
            ).alias(f"p{p100}")
        )
    return c.groupBy(*keys).agg(*aggs)


def misra_gries_sketches(
    df: DataFrame, key_col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra-Gries frequency sketches over ``key_col``
    — one Arrow-batched pass, bounded memory. Emits ``(key,
    mg_count)`` summary rows per partition plus one ``(NULL,
    partition_total)`` row, so a single pass yields BOTH the
    candidate set and the stream length N.

    Guarantee (the reason the two-pass heavy-hitter below is exact):
    a key with partition count c > n_p/(capacity+1) survives that
    partition's sketch. Arrow batches fold in via the mergeable-MG
    rule (add value_counts, then subtract the (capacity+1)-th largest
    count and drop non-positive — Agarwal et al., PODS'12). The one
    caller is ``heavy_hitters``; the streaming frequent-items state
    folds exact batch counts natively instead."""
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("mg_count", T.LongType()),
        ]
    )

    def _mg(batches):
        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            total += int(vc.sum())
            for k, c in vc.items():
                counters[k] = counters.get(k, 0) + int(c)
            if len(counters) > capacity:
                vals = sorted(counters.values(), reverse=True)
                sub = vals[capacity]
                counters = {
                    k: v - sub for k, v in counters.items() if v > sub
                }
        out = pd.DataFrame(
            {
                "key": list(counters) + [None],
                "mg_count": list(counters.values()) + [total],
            }
        )
        yield out

    # cast up front: a non-string key (bigint ids, hashed URLs) would
    # otherwise reach the Arrow boundary as integers and fail the
    # schema conversion with an opaque Arrow type error
    return df.select(
        F.col(key_col).cast("string").alias(key_col)
    ).mapInPandas(_mg, schema)


def heavy_hitters(
    df: DataFrame, key_col: str, phi_inv: int = 10_000
) -> DataFrame:
    """EXACT keys with frequency ≥ N/``phi_inv`` in two passes —
    the scale path when the key space (5-gram strings, URLs) is too
    large to hash-aggregate wholesale:

    pass 1: per-partition Misra-Gries (capacity = phi_inv). Any
      globally φ-heavy key has ≥ φ share in SOME partition
      (pigeonhole over Σc_i ≥ φΣn_p), and capacity ≥ 1/φ makes the
      per-partition survival threshold n_p/(capacity+1) < φ·n_p — so
      the union of sketches is a guaranteed candidate SUPERSET of
      ≤ partitions × capacity keys (≪ key space).
    pass 2: exact counts for the candidates only (broadcast semi
      join — the corpus never shuffles on the full key), integer
      threshold ``count · phi_inv ≥ N``.

    Returns ``(key_col, n)`` — exact counts, deterministic regardless
    of partitioning (the candidate set varies, the answer never
    does)."""
    sketches = misra_gries_sketches(df, key_col, capacity=phi_inv)
    sketches = sketches.localCheckpoint(eager=True)
    totals = sketches.agg(
        F.sum(F.when(F.col("key").isNull(), F.col("mg_count"))).alias(
            "n"
        ),
        F.sum(F.when(F.col("key").isNotNull(), F.col("mg_count"))).alias(
            "s"
        ),
    ).first()
    n_total = int(totals["n"] or 0)
    stored = int(totals["s"] or 0)
    # summaries-merge bound (Agarwal et al., PODS'12): summing the
    # per-partition sketches undercounts any key by at most
    # err = (N − Σ stored)/(capacity+1). Aggregate the sketch rows by
    # key DISTRIBUTED (a shuffle of ≤ partitions × capacity sketch
    # rows, not corpus rows) and drop every candidate whose upper
    # bound can't clear φ — the broadcast side is then bounded by the
    # surviving candidates, not partitions × φ⁻¹.
    err = (n_total - stored) // (phi_inv + 1)
    cand = (
        sketches.filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("mg_count").alias("mg_sum"))
        .filter(
            (F.col("mg_sum") + F.lit(err)) * phi_inv >= F.lit(n_total)
        )
        # a name no input column can shadow: the join condition below
        # must stay unambiguous even when key_col == "key"
        .select(F.col("key").alias("__hh_cand_key"))
    )
    # sketch keys are strings (Arrow contract above); compare on a
    # cast so non-string key columns still semi-join correctly
    return (
        df.join(
            F.broadcast(cand),
            df[key_col].cast("string") == cand["__hh_cand_key"],
            "left_semi",
        )
        .groupBy(key_col)
        .agg(F.count("*").cast("bigint").alias("n"))
        .filter(F.col("n") * phi_inv >= F.lit(int(n_total)))
    )
