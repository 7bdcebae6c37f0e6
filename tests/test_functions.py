"""Property tests for the R-semantics shims and scalar vocabulary
(SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.functions import (
    american_odds_to_prob,
    calibration_bin,
    clamp,
    inv_logit,
    logit,
    r_cor,
    r_cumsum,
    r_first,
    r_ifelse_na,
    r_mean,
    r_round,
    r_sum,
)


def test_r_mean_na_propagation(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 2.0), ("b", 4.0)], ["g", "x"]
    )
    out = {
        r["g"]: (r["m_narm"], r["m_strict"])
        for r in df.groupBy("g")
        .agg(
            r_mean("x", na_rm=True).alias("m_narm"),
            r_mean("x", na_rm=False).alias("m_strict"),
        )
        .collect()
    }
    assert out["a"][0] == 1.0  # na.rm=TRUE skips
    assert out["a"][1] is None  # R mean with NA → NA
    assert out["b"] == (3.0, 3.0)


def test_r_round_bankers(spark):
    # R: round(0.5)=0, round(1.5)=2, round(2.5)=2 (HALF_EVEN)
    df = spark.createDataFrame([(0.5,), (1.5,), (2.5,), (-0.5,)], ["x"])
    vals = [r["y"] for r in df.select(r_round("x").alias("y")).collect()]
    assert vals == [0.0, 2.0, 2.0, 0.0]


def test_r_cumsum_explicit_order(spark):
    df = spark.createDataFrame(
        [("g", 2, 10.0), ("g", 1, 1.0), ("g", 3, 100.0)], ["g", "ord", "x"]
    )
    out = (
        df.withColumn("cs", r_cumsum("x", ["g"], ["ord"]))
        .orderBy("ord")
        .collect()
    )
    assert [r["cs"] for r in out] == [1.0, 11.0, 111.0]


def test_r_ifelse_na(spark):
    df = spark.createDataFrame([(None, 5.0), (2.0, 9.0)], ["x", "fb"])
    vals = [r["y"] for r in df.select(r_ifelse_na("x", "fb").alias("y")).collect()]
    assert vals == [5.0, 2.0]


def test_american_odds_to_prob(spark):
    df = spark.createDataFrame([(150.0,), (-200.0,), (100.0,)], ["odds"])
    vals = [
        r["p"] for r in df.select(american_odds_to_prob("odds").alias("p")).collect()
    ]
    assert vals[0] == pytest.approx(100 / 250)  # +150 → 0.4
    assert vals[1] == pytest.approx(200 / 300)  # -200 → 2/3
    assert vals[2] == pytest.approx(0.5)


def test_logit_roundtrip(spark):
    df = spark.createDataFrame([(0.2,), (0.5,), (0.9,)], ["p"])
    vals = [
        r["q"] for r in df.select(inv_logit(logit("p")).alias("q")).collect()
    ]
    assert vals == pytest.approx([0.2, 0.5, 0.9])


def test_clamp(spark):
    df = spark.createDataFrame([(-10.0,), (0.0,), (10.0,)], ["x"])
    vals = [r["y"] for r in df.select(clamp("x", -4.5, 4.5).alias("y")).collect()]
    assert vals == [-4.5, 0.0, 4.5]


def test_calibration_bin_half_even(spark):
    # round(wp/0.01)*0.01 with banker's rounding at the .5 boundary
    df = spark.createDataFrame([(0.125,), (0.135,), (0.1349,)], ["wp"])
    vals = [
        r["b"] for r in df.select(calibration_bin("wp", 0.01).alias("b")).collect()
    ]
    assert vals[0] == pytest.approx(0.12)  # 12.5 → 12 (even)
    assert vals[1] == pytest.approx(0.14)  # 13.5 → 14 (even)
    assert vals[2] == pytest.approx(0.13)


def test_top1_and_bind_cols(spark):
    from nfl_data_pipeline_spark.operators.relational import (
        bind_cols_by_rownum,
        top1_per_group,
    )

    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 9.0), ("b", 3, 1.0)], ["g", "id", "v"]
    )
    top = top1_per_group(df, ["g"], [F.col("v").desc(), F.col("id")])
    assert {(r["g"], r["id"]) for r in top.collect()} == {("a", 2), ("b", 3)}

    left = spark.createDataFrame([(1, "x"), (2, "y")], ["o", "l"])
    right = spark.createDataFrame([(1, "z")], ["o", "r"])
    bound = bind_cols_by_rownum(left, right, [F.col("o")], [F.col("o")])
    rows = sorted(bound.collect(), key=lambda r: r["row_num"])
    assert rows[0]["l"] == "x" and rows[0]["r"] == "z"
    assert rows[1]["l"] == "y" and rows[1]["r"] is None  # ragged pad


def test_log_loss_matches_reference_formula(spark):
    from nfl_data_pipeline_spark.functions import log_loss_expr

    rows = [(1, 0.9), (0, 0.2), (1, 0.6)]
    df = spark.createDataFrame(rows, ["y", "p"])
    got = df.agg(log_loss_expr("y", "p").alias("ll")).collect()[0]["ll"]
    want = sum(
        -(y * math.log(p) + (1 - y) * math.log(1 - p)) for y, p in rows
    ) / len(rows)
    assert got == pytest.approx(want)


def test_salted_join_matches_plain_join(spark):
    from nfl_data_pipeline_spark.operators.relational import salted_join
    from nfl_data_pipeline_spark.catalog import load
    from tests.conftest import SF_SMOKE

    li = load(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey").groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    salted = salted_join(li, o, "l_orderkey").groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    assert plain["n"] == salted["n"]
    assert plain["q"] == salted["q"]


def test_grouped_ols_matches_sql_regression(spark):
    """grouped_ols (applyInPandas grouped-map) with a single feature
    must reproduce the SQL regr_slope/regr_intercept/regr_r2
    aggregates exactly (same closed form); multi-feature fit sanity:
    R² within [0,1], n matches, group keys preserved."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.operators.modelfit import grouped_ols
    from tests.conftest import SF_SMOKE

    o = load(spark, SF_SMOKE, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").alias("y"),
        (F.col("o_custkey") % 1000).cast("double").alias("x1"),
        (F.col("o_orderkey") % 97).cast("double").alias("x2"),
    )
    got = {
        r["o_orderpriority"]: r
        for r in grouped_ols(o, ["o_orderpriority"], "y", ["x1"]).collect()
    }
    want = {
        r["o_orderpriority"]: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.regr_slope("y", "x1").alias("slope"),
            F.regr_intercept("y", "x1").alias("intercept"),
            F.regr_r2("y", "x1").alias("r2"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["coefs"][0] == _pt.approx(w["slope"], rel=1e-9)
        assert g["intercept"] == _pt.approx(w["intercept"], rel=1e-9)
        assert g["r2"] == _pt.approx(w["r2"], rel=1e-9)
        assert g["n"] == w["n"]

    multi = grouped_ols(o, ["o_orderpriority"], "y", ["x1", "x2"]).collect()
    for r in multi:
        assert len(r["coefs"]) == 2
        assert 0.0 <= r["r2"] <= 1.0


def test_shingle_n_threads_through_both_engines(spark):
    """with_shingle_ids(n) must actually produce n-gram ids (the r2
    advice flagged a silently-ignored n), and the Spark and DuckDB
    composers must agree for every n."""
    import duckdb

    from nfl_data_pipeline_spark.operators.dedup import with_shingle_ids
    from nfl_data_pipeline_spark.operators.hashing import (
        duck_shingle_ids,
        duck_token_hashes,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "aa bb cc"), (3, "one two")],
        "doc_id long, text string",
    )
    by_n = {}
    for n in (2, 3, 4):
        rows = {
            r["doc_id"]: sorted(r["sids"])
            for r in with_shingle_ids(docs, n=n).select("doc_id", "sids").collect()
        }
        by_n[n] = rows
        con = duckdb.connect()
        th = "(" + duck_token_hashes("string_split(text, ' ')") + ")"
        duck = con.execute(
            f"""
            SELECT doc_id, list_sort(list_distinct(
              {duck_shingle_ids(th, n)}
            )) AS sids
            FROM (VALUES (1, 'a b c d e'), (2, 'aa bb cc'), (3, 'one two'))
              t(doc_id, text)
            """
        ).fetchall()
        assert {d: sorted(s) for d, s in duck} == rows, f"n={n}"
        # doc 3 has 2 tokens: exactly one 2-gram, zero 3/4-grams
        assert len(rows[3]) == (1 if n == 2 else 0)
    # different n -> different shingle sets on the 5-token doc
    assert by_n[2][1] != by_n[3][1] != by_n[4][1]


def test_sids_cache_invalidates_on_file_rewrite(spark, tmp_path):
    """Rewriting the parquet behind a cached shingle plan must produce
    fresh shingles (mtime fingerprint), not the stale materialization."""
    from nfl_data_pipeline_spark.operators.dedup import _materialized_sids

    p = str(tmp_path / "docs")
    spark.createDataFrame([(1, "a b c d")], "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(p)
    first = _materialized_sids(spark.read.parquet(p), "text", 3).collect()
    import time

    time.sleep(0.05)  # ensure a distinct mtime_ns
    spark.createDataFrame([(1, "w x y z")], "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(p)
    second = _materialized_sids(spark.read.parquet(p), "text", 3).collect()
    assert first[0]["sids"] != second[0]["sids"]


def test_ngram_language_id_discriminates(spark):
    """The trigram profiles must actually separate languages, not
    just pass the oracle: natural sentences in each language get
    their own label."""
    from nfl_data_pipeline_spark.operators.text import ngram_language_id

    samples = [
        (1, "en", "the quick brown fox jumps over the lazy dog and "
                  "then the running of the hounds began in the morning"),
        (2, "fr", "le gouvernement de la république a annoncé que les "
                  "étudiants de la ville avaient obtenu des résultats"),
        (3, "de", "der schnelle braune fuchs springt über den faulen "
                  "hund und die schönen kinder singen ein schönes lied"),
        (4, "es", "la casa de la montaña que tiene los mejores vinos "
                  "de la región y los platos que queremos comer"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, _, t in samples], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["pred_lang"]
        for r in ngram_language_id(df).collect()
    }
    for i, want, _ in samples:
        assert got[i] == want, f"doc {i}: predicted {got[i]}, wanted {want}"


def test_murmur3_mirror_matches_spark_hash(spark):
    """operators/hashing.spark_hash_ints is bit-equal to F.hash over
    int32 pairs — the contract that lets the banded-LSH oracle inline
    hyperplane weights as literals."""
    from nfl_data_pipeline_spark.operators.hashing import (
        plane_weight,
        spark_hash_ints,
    )

    rows = spark.range(300).select(
        (F.col("id") % 37 - 5).cast("int").alias("a"),
        (F.col("id") * 13 % 101 - 50).cast("int").alias("b"),
        F.hash(
            (F.col("id") % 37 - 5).cast("int"),
            (F.col("id") * 13 % 101 - 50).cast("int"),
        ).alias("h"),
    ).collect()
    for r in rows:
        assert spark_hash_ints(r["a"], r["b"]) == r["h"]
    # weight derivation: signed hash / 2^32, in [-0.5, 0.5)
    w = plane_weight(3, 17)
    assert w == spark_hash_ints(3, 17) / 4294967296.0
    assert -0.5 <= w < 0.5


def test_logistic_irls_matches_numpy(spark):
    """The decimal-exact IRLS must land within float-noise of a plain
    numpy IRLS on the same data (the decimal detour changes SUM
    ordering, not the estimator)."""
    import numpy as np

    from nfl_data_pipeline_spark.operators.modelfit import (
        logistic_irls_exact,
    )

    rng = np.random.default_rng(6)
    n = 400
    x1 = rng.normal(0, 1, n)
    x2 = rng.uniform(0, 1, n)
    eta = -0.5 + 1.5 * x1 - 2.0 * x2
    y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(-eta))).astype(int)
    df = spark.createDataFrame(
        [(int(yy), float(a), float(b)) for yy, a, b in zip(y, x1, x2)],
        "y int, x1 double, x2 double",
    )
    got = logistic_irls_exact(df, "y", "x1", "x2", n_iter=3)

    beta = np.zeros(3)
    X = np.column_stack([np.ones(n), x1, x2])
    for _ in range(3):
        mu = 1 / (1 + np.exp(-(X @ beta)))
        w = mu * (1 - mu)
        z = X @ beta + (y - mu) / w
        A = X.T @ (w[:, None] * X)
        beta = np.linalg.solve(A, X.T @ (w * z))
    assert np.allclose(got, beta, rtol=1e-4, atol=1e-4)
    # the planted signal is recovered directionally
    assert got[1] > 0 and got[2] < 0


def test_cramer_solve_matches_sql_templates():
    """The direct Python Cramer solve must be BIT-identical to a
    Python eval of ``IRLS_BETA_TEMPLATES`` (proving the operation
    order is the templates') and agree with DuckDB executing the same
    templates at the driver's 9-significant-digit canonicalization
    (DuckDB FMA-contracts multiply-subtract shapes, so the engines
    were never ulp-identical — 9 sig digits is the actual contract
    the oracle hash uses)."""
    import duckdb
    import numpy as np

    from nfl_data_pipeline_spark.operators.modelfit import (
        IRLS_BETA_TEMPLATES,
        IRLS_SUM_NAMES,
        cramer_solve_3x3,
    )

    rng = np.random.default_rng(42)
    con = duckdb.connect()
    for _ in range(25):
        # well-conditioned-ish SPD-like sums with rough magnitudes of
        # real IRLS moments, plus sign noise on the r terms
        vals = {k: float(rng.uniform(-50, 200)) for k in IRLS_SUM_NAMES}
        vals["s11"] = abs(vals["s11"]) + 1.0
        vals["s22"] = abs(vals["s22"]) + 1.0
        vals["s33"] = abs(vals["s33"]) + 1.0
        got = cramer_solve_3x3(vals)
        fmt_py = {k: repr(v) for k, v in vals.items()}
        want_py = tuple(
            eval(IRLS_BETA_TEMPLATES[b].format(**fmt_py))  # noqa: S307
            for b in ("beta0", "beta1", "beta2")
        )
        assert got == want_py  # bit-exact: same operation order
        # cast literals: bare decimals would parse as DECIMAL and
        # overflow scale — the real oracle feeds DOUBLE CTE columns
        fmt = {k: f"CAST({v!r} AS DOUBLE)" for k, v in vals.items()}
        want_duck = tuple(
            con.execute(
                "SELECT " + IRLS_BETA_TEMPLATES[b].format(**fmt)
            ).fetchone()[0]
            for b in ("beta0", "beta1", "beta2")
        )
        for g, w in zip(got, want_duck):
            assert f"{g:.9g}" == f"{w:.9g}"


def test_grouped_logit_recovers_per_group_signal(spark):
    import numpy as np

    from nfl_data_pipeline_spark.operators.modelfit import grouped_logit

    rng = np.random.default_rng(12)
    rows = []
    truth = {"g1": (0.5, 2.0), "g2": (-1.0, -1.5)}
    for g, (b0, b1) in truth.items():
        x = rng.normal(0, 1, 600)
        p = 1 / (1 + np.exp(-(b0 + b1 * x)))
        y = (rng.uniform(0, 1, 600) < p).astype(int)
        rows += [(g, int(yy), float(xx)) for yy, xx in zip(y, x)]
    # a degenerate single-class group must yield NULLs, not a crash
    rows += [("g3", 1, float(v)) for v in rng.normal(0, 1, 50)]
    df = spark.createDataFrame(rows, "g string, y int, x double")
    got = {
        r["g"]: r for r in grouped_logit(df, ["g"], "y", ["x"]).collect()
    }
    for g, (b0, b1) in truth.items():
        assert got[g]["intercept"] == pytest.approx(b0, abs=0.4)
        assert got[g]["coefs"][0] == pytest.approx(b1, abs=0.5)
    assert got["g3"]["coefs"] is None and got["g3"]["n"] == 50


def test_r_sum_na_propagation(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 2.0), ("b", 4.0)], ["g", "x"]
    )
    out = {
        r["g"]: (r["s_narm"], r["s_strict"])
        for r in df.groupBy("g")
        .agg(
            r_sum("x", na_rm=True).alias("s_narm"),
            r_sum("x", na_rm=False).alias("s_strict"),
        )
        .collect()
    }
    assert out["a"][0] == 1.0  # na.rm=TRUE skips
    assert out["a"][1] is None  # R sum with NA -> NA
    assert out["b"] == (6.0, 6.0)


def test_r_cor_everything_semantics(spark):
    """R cor default use="everything": any NA OR NaN element in
    either vector NAs the statistic; complete vectors give pearson;
    zero variance gives NA (never NaN). Spark's corr skips
    incomplete pairs, so each case diverges without the shim."""
    import numpy as np

    complete = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 3.5), (4.0, 4.0)], ["x", "y"]
    )
    got = complete.agg(r_cor("x", "y").alias("c")).collect()[0]["c"]
    want = np.corrcoef([1.0, 2.0, 4.0], [2.0, 3.5, 4.0])[0, 1]
    assert got == pytest.approx(float(want), rel=1e-12)

    with_null = spark.createDataFrame(
        [(1.0, 2.0), (2.0, None), (4.0, 4.0)], ["x", "y"]
    )
    assert with_null.agg(r_cor("x", "y").alias("c")).collect()[0]["c"] is None

    with_nan = spark.createDataFrame(
        [(1.0, 2.0), (float("nan"), 3.0), (4.0, 4.0)], ["x", "y"]
    )
    assert with_nan.agg(r_cor("x", "y").alias("c")).collect()[0]["c"] is None

    constant = spark.createDataFrame(
        [(1.0, 2.0), (1.0, 3.0), (1.0, 4.0)], ["x", "y"]
    )
    c = constant.agg(r_cor("x", "y").alias("c")).collect()[0]["c"]
    assert c is None and not (isinstance(c, float) and math.isnan(c))


def test_r_join_na_matches_semantics(spark):
    """dplyr's DEFAULT na_matches='na': NA keys MATCH (left join gets
    the right side's values; full join merges the two NA rows into
    ONE with coalesced keys) — a plain SQL equi-join does neither."""
    from nfl_data_pipeline_spark.operators.relational import r_join

    left = spark.createDataFrame(
        [("a", 1), (None, 2)], "k string, lv int"
    )
    right = spark.createDataFrame(
        [("a", 10), (None, 20), ("b", 30)], "k string, rv int"
    )
    # plain Spark: the NA-keyed left row matches nothing
    plain = {
        r["lv"]: r["rv"]
        for r in left.join(right, "k", "left").collect()
    }
    assert plain == {1: 10, 2: None}
    got = {r["lv"]: r["rv"] for r in r_join(left, right, ["k"]).collect()}
    assert got == {1: 10, 2: 20}  # dplyr matches NA with NA

    full = r_join(left, right, ["k"], "full_outer").collect()
    assert len(full) == 3  # a, NA (merged), b — not 4
    by_k = {r["k"]: (r["lv"], r["rv"]) for r in full}
    assert by_k[None] == (2, 20)
    assert by_k["b"] == (None, 30)
    # USING semantics: exactly one key column
    assert [c for c in r_join(left, right, ["k"]).columns].count("k") == 1


def test_r_join_keeps_broadcast_hint(spark):
    """r_join aliases both sides — the broadcast hint on the right
    frame must survive into the physical plan (the panel joins
    broadcast their QB-season dims)."""
    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.operators.relational import r_join

    big = spark.range(1000).withColumnRenamed("id", "k")
    small = spark.range(5).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") * 2
    )
    # disable auto-broadcast so BHJ in the plan can ONLY come from
    # the hint (review fix: a 5-row frame auto-broadcasts under the
    # session threshold, making the assert vacuous)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = r_join(
            big, F.broadcast(small), ["k"]
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        bare = big.alias("_rj_l").join(
            small.alias("_rj_r"),
            F.col("_rj_l.k").eqNullSafe(F.col("_rj_r.k")),
            "left",
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in bare  # the control
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_grouped_irls_exact_degenerate_and_quoted_groups(spark):
    """Operator robustness (review findings): a degenerate slice
    (all-zero features → exactly singular normal equations) returns
    NULL coefficients instead of aborting every group; a group key
    containing a single quote round-trips through the CASE literal;
    a NULL group key raises loudly (its betas would silently freeze
    and the grouped oracle drops it — divergence either way)."""
    import pytest as _pt

    from nfl_data_pipeline_spark.operators.modelfit import (
        grouped_logistic_irls_exact,
    )

    rows = []
    for i in range(40):
        x1 = (i % 7) / 7.0
        x2 = ((i * 3) % 5) / 5.0
        y = 1 if (0.8 * x1 - 0.5 * x2) > 0.1 else 0
        rows.append(("good", y, x1, x2))
        rows.append(("O'Brien", 1 - y, x2, x1))
        rows.append(("dead", i % 2, 0.0, 0.0))  # zero features
    df = spark.createDataFrame(rows, "g string, y int, x1 double, x2 double")
    fit = {
        r[0]: r[1:]
        for r in grouped_logistic_irls_exact(df, "g", "y", "x1", "x2")
    }
    assert fit["dead"][0] is None and fit["dead"][3] == 40
    assert fit["good"][0] is not None
    assert fit["O'Brien"][0] is not None
    assert fit["good"][1] != fit["O'Brien"][1]  # distinct fits

    with_null = df.union(
        spark.createDataFrame(
            [(None, 1, 0.5, 0.5)], "g string, y int, x1 double, x2 double"
        )
    )
    with _pt.raises(ValueError, match="NULL g group"):
        grouped_logistic_irls_exact(with_null, "g", "y", "x1", "x2")


def test_r_first_matches_ordered_window_first(spark):
    """``r_first`` (min of an ordered struct) picks the same row as the
    ``first(x).over(ordered window)`` form it replaces: rows stored out
    of play order, a NULL value on the first play (returned as is), a
    NaN play_id (sorts last) and a NULL game_id / play_id (sort
    first). The pick must not depend on the shuffle partition count."""
    from pyspark.sql.window import Window

    nan = float("nan")
    rows = [
        # stored out of order; the first play's name is NULL
        ("a", "g2", 5.0, "late", "X"),
        ("a", "g1", 30.0, "mid", "Y"),
        ("a", "g1", 10.0, None, "Z"),
        # NaN sorts after every number, NULL before
        ("b", "g1", nan, "nan", "N"),
        ("b", "g1", 1.0, "one", "O"),
        ("b", "g1", None, "null", "U"),
        ("c", "g1", nan, "nan", "N"),
        ("c", "g1", 2.0, "two", "T"),
        # a NULL leading key sorts first
        ("d", "g0", 1.0, "g0", "G"),
        ("d", None, 99.0, "nogame", None),
    ]
    want = {
        "a": (None, "Z"),
        "b": ("null", "U"),
        "c": ("two", "T"),
        "d": ("nogame", None),
    }
    df = spark.createDataFrame(
        rows, "g string, game_id string, play_id double, name string, team string"
    ).repartition(3)
    order = ["game_id", "play_id"]
    w = Window.partitionBy("g").orderBy(*order)
    windowed = (
        df.withColumn("_n", F.first("name").over(w))
        .withColumn("_t", F.first("team").over(w))
        .groupBy("g")
        .agg(F.first("_n").alias("name"), F.first("_t").alias("team"))
    )
    first = r_first(order, "name", "team")
    aggregated = df.groupBy("g").agg(
        first["name"].alias("name"), first["team"].alias("team")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            old = {r["g"]: (r["name"], r["team"]) for r in windowed.collect()}
            new = {r["g"]: (r["name"], r["team"]) for r in aggregated.collect()}
            assert old == want and new == want, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
