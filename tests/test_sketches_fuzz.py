"""Sketch accuracy tests + a seeded differential query fuzzer.

The fuzzer generates random filter→group→aggregate specs over the
orders table, renders each BOTH as a DataFrame plan and as DuckDB
SQL, and hash-compares — the same differential methodology as the
curated registry, but over a random slice of the expression space.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.operators.sketches import (
    approx_distinct,
    approx_quantiles,
)
from tests.conftest import SF_CORRECT, assert_query_matches_oracle


def test_approx_distinct_accuracy(spark):
    li = load(spark, SF_CORRECT, "lineitem")
    got = {
        r["l_returnflag"]: r["approx_n_l_partkey"]
        for r in approx_distinct(li, ["l_returnflag"], "l_partkey").collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(got[k] - n) / n < 0.05  # rsd=0.02 → 5% is generous


def test_approx_quantiles_accuracy(spark):
    o = load(spark, SF_CORRECT, "orders")
    got = approx_quantiles(
        o, ["o_orderstatus"], "o_totalprice", probs=(0.5,)
    ).collect()
    exact = {
        r["o_orderstatus"]: r["m"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.percentile("o_totalprice", 0.5).alias("m"))
        .collect()
    }
    for r in got:
        assert r["p5"] == pytest.approx(exact[r["o_orderstatus"]], rel=0.02)


# ---------------------------------------------------------------------------
# differential fuzzer
# ---------------------------------------------------------------------------

_NUM_COLS = ["o_totalprice", "o_custkey", "o_orderkey"]
_CAT_COLS = ["o_orderstatus", "o_orderpriority"]
_CAT_VALUES = {
    "o_orderstatus": ["F", "O", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
}


def _gen_spec(rng: random.Random):
    """One random query spec: predicates + group col + aggregates."""
    preds = []
    for _ in range(rng.randint(1, 3)):
        if rng.random() < 0.5:
            c = rng.choice(_NUM_COLS)
            lo = rng.randint(0, 200_000)
            op = rng.choice([">", "<", ">=", "<="])
            preds.append((c, op, lo))
        else:
            c = rng.choice(_CAT_COLS)
            vals = rng.sample(_CAT_VALUES[c], rng.randint(1, 2))
            preds.append((c, "in", vals))
    group = rng.choice(_CAT_COLS)
    agg_col = rng.choice(_NUM_COLS)
    return preds, group, agg_col


def _spark_query(spark, spec):
    preds, group, agg_col = spec
    df = load(spark, SF_CORRECT, "orders")
    for c, op, v in preds:
        if op == "in":
            df = df.filter(F.col(c).isin(v))
        else:
            df = df.filter(
                {">": F.col(c) > v, "<": F.col(c) < v,
                 ">=": F.col(c) >= v, "<=": F.col(c) <= v}[op]
            )
    return df.groupBy(F.col(group).alias("g")).agg(
        F.count("*").alias("n"),
        F.sum(F.col(agg_col).cast("decimal(30,6)")).cast("double").alias("s"),
        F.min(agg_col).alias("mn"),
        F.max(agg_col).alias("mx"),
    )


def _oracle_sql(spec):
    preds, group, agg_col = spec
    conds = []
    for c, op, v in preds:
        if op == "in":
            vals = ", ".join(f"'{x}'" for x in v)
            conds.append(f"{c} IN ({vals})")
        else:
            conds.append(f"{c} {op} {v}")
    where = " AND ".join(conds)
    return f"""
      SELECT {group} AS g, COUNT(*) AS n,
             CAST(SUM(CAST({agg_col} AS DECIMAL(30,6))) AS DOUBLE) AS s,
             MIN({agg_col}) AS mn, MAX({agg_col}) AS mx
      FROM orders WHERE {where} GROUP BY {group}
    """


def test_differential_fuzz(spark, duck):
    """20 seeded random filter→group→agg queries, Spark vs DuckDB."""
    from dataclasses import dataclass

    rng = random.Random(20260813)
    for i in range(20):
        spec = _gen_spec(rng)

        @dataclass
        class _Spec:
            name: str
            oracle: str
            spark: object

        s = _Spec(
            name=f"fuzz_{i}_{spec}",
            oracle=_oracle_sql(spec),
            spark=lambda sp, sf, spec=spec: _spark_query(sp, spec),
        )
        assert_query_matches_oracle(s, spark, duck, SF_CORRECT)


def _spark_join_query(spark, spec):
    preds, _, agg_col = spec
    df = load(spark, SF_CORRECT, "orders")
    for c, op, v in preds:
        if op == "in":
            df = df.filter(F.col(c).isin(v))
        else:
            df = df.filter(
                {">": F.col(c) > v, "<": F.col(c) < v,
                 ">=": F.col(c) >= v, "<=": F.col(c) <= v}[op]
            )
    cust = load(spark, SF_CORRECT, "customer")
    nat = load(spark, SF_CORRECT, "nation")
    return (
        df.join(cust, df.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("g"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(agg_col).cast("decimal(30,6)")).cast("double").alias("s"),
        )
    )


def _oracle_join_sql(spec):
    preds, _, agg_col = spec
    conds = []
    for c, op, v in preds:
        if op == "in":
            vals = ", ".join(f"'{x}'" for x in v)
            conds.append(f"o.{c} IN ({vals})")
        else:
            conds.append(f"o.{c} {op} {v}")
    where = " AND ".join(conds)
    return f"""
      SELECT n.n_name AS g, COUNT(*) AS n,
             CAST(SUM(CAST(o.{agg_col} AS DECIMAL(30,6))) AS DOUBLE) AS s
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE {where} GROUP BY n.n_name
    """


def test_differential_fuzz_with_joins(spark, duck):
    """10 seeded random specs through a 3-table join chain."""
    from dataclasses import dataclass

    rng = random.Random(8675309)
    for i in range(10):
        spec = _gen_spec(rng)

        @dataclass
        class _Spec:
            name: str
            oracle: str
            spark: object

        s = _Spec(
            name=f"fuzz_join_{i}",
            oracle=_oracle_join_sql(spec),
            spark=lambda sp, sf, spec=spec: _spark_join_query(sp, spec),
        )
        assert_query_matches_oracle(s, spark, duck, SF_CORRECT)


_WIN_FUNCS = ["row_number", "rank", "dense_rank", "lag", "lead", "running_sum"]


def _gen_win_spec(rng: random.Random):
    return (
        rng.choice(_WIN_FUNCS),
        rng.choice(_CAT_COLS),          # partition
        rng.choice(_NUM_COLS),          # order
        rng.choice([True, False]),      # descending
        rng.choice(_NUM_COLS),          # value col (lag/lead/sum)
    )


def _spark_win_query(spark, spec):
    from pyspark.sql.window import Window

    fn, part, order, desc, val = spec
    df = load(spark, SF_CORRECT, "orders")
    oc = F.col(order).desc() if desc else F.col(order).asc()
    w = Window.partitionBy(part).orderBy(oc, F.col("o_orderkey").asc())
    if fn == "row_number":
        col = F.row_number().over(w).cast("bigint")
    elif fn == "rank":
        col = F.rank().over(w).cast("bigint")
    elif fn == "dense_rank":
        col = F.dense_rank().over(w).cast("bigint")
    elif fn == "lag":
        col = F.lag(val, 1).over(w)
    elif fn == "lead":
        col = F.lead(val, 1).over(w)
    else:
        col = (
            F.sum(F.col(val).cast("decimal(30,6)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double")
        )
    return df.select("o_orderkey", col.alias("v"))


def _oracle_win_sql(spec):
    fn, part, order, desc, val = spec
    d = "DESC" if desc else "ASC"
    over = f"PARTITION BY {part} ORDER BY {order} {d}, o_orderkey ASC"
    if fn in ("row_number", "rank", "dense_rank"):
        expr = f"CAST({fn}() OVER ({over}) AS BIGINT)"
    elif fn in ("lag", "lead"):
        expr = f"{fn}({val}, 1) OVER ({over})"
    else:
        expr = (
            f"CAST(SUM(CAST({val} AS DECIMAL(30,6))) OVER ({over} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"
        )
    return f"SELECT o_orderkey, {expr} AS v FROM orders"


def test_differential_fuzz_windows(spark, duck):
    """15 seeded random window specs (ranking, lag/lead, running sum)
    over a total order — Spark vs DuckDB row-for-row."""
    from dataclasses import dataclass

    rng = random.Random(424242)
    for i in range(15):
        spec = _gen_win_spec(rng)

        @dataclass
        class _Spec:
            name: str
            oracle: str
            spark: object

        s = _Spec(
            name=f"fuzz_win_{i}_{spec[0]}",
            oracle=_oracle_win_sql(spec),
            spark=lambda sp, sf, spec=spec: _spark_win_query(sp, spec),
        )
        assert_query_matches_oracle(s, spark, duck, SF_CORRECT)


def test_freq_items_contains_true_heavy_hitters(spark):
    """df.stat.freqItems (stock heavy-hitter sketch) must contain
    every token whose true frequency exceeds the support threshold —
    the sketch's one-sided guarantee (false positives allowed, false
    negatives not)."""
    from nfl_data_pipeline_spark.catalog import load

    docs = load(spark, SF_CORRECT, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    support = 0.01
    approx = set(tokens.stat.freqItems(["token"], support).collect()[0][0])
    total = tokens.count()
    truth = {
        r["token"]
        for r in tokens.groupBy("token").count().collect()
        if r["count"] / total > support
    }
    assert truth <= approx, f"missed heavy hitters: {truth - approx}"


# --- histogram-bucket property fuzz --------------------------------------


def test_len_bucket_properties_fuzz(spark):
    """Property check over random magnitudes: bucket ids are monotone
    non-decreasing in x, identical between Spark and DuckDB, and the
    recovered midpoint brackets x within the documented ~5.3%
    relative width (exact below 10)."""
    import duckdb

    from nfl_data_pipeline_spark.operators.sketches import (
        duck_len_bucket,
        sp_bucket_mid,
        sp_len_bucket,
    )

    rng = random.Random(123)
    vals = sorted(
        {rng.randrange(0, 10 ** rng.randrange(1, 15)) for _ in range(400)}
    )
    sdf = spark.createDataFrame([(v,) for v in vals], "x long")
    rows = (
        sdf.select(
            "x",
            F.expr(sp_len_bucket("x")).alias("b"),
            F.expr(sp_bucket_mid(sp_len_bucket("x"))).alias("mid"),
        )
        .orderBy("x")
        .collect()
    )
    con = duckdb.connect()
    prev_b = None
    for r in rows:
        x, b, mid = r["x"], r["b"], r["mid"]
        (db,) = con.execute(f"SELECT {duck_len_bucket(str(x))}").fetchone()
        assert b == db
        if prev_b is not None:
            assert b >= prev_b
        prev_b = b
        if x < 10:
            assert mid == float(x)
        else:
            assert abs(mid - x) / x <= 0.055, (x, mid)
