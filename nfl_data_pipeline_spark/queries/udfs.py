"""UDF / model-scoring / iterative queries — SURVEY.md §2.11.

- ``udf_model_score``: the xpass/dakota shape (U1/U2): an
  Arrow-vectorized pandas_udf applying a fixed logistic model, plus
  the over-expected delta column. It stays the pandas-UDF scorer that
  covers SURVEY U1/U2; ``plans.pass_rate_oe`` scores its own
  fixed-coefficient xpass as a native expression. (Production swaps
  coefficients for a persisted sklearn artifact; the engine contract —
  batched Series→Series scoring — is identical.)
- ``vig_removal``: the 10-iteration power-method fixed point of
  R/nfl_draft_espn_dk.R:28-40, as a driver-side loop of narrow
  transforms (U6); oracle = the same 10 stages unrolled as CTEs.
- ``linear_fit``: lm(y ~ x) (A15) via SQL regression aggregates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.queries import register

# Fixed "model" coefficients for the plans/ domain reproductions
# (stand-ins — the .rda GAMs of R/epa_predict.R:10 aren't
# reproducible; SURVEY §7 hard-part 5 says assert pipeline structure +
# formula, not R's fit). udf_model_score itself scores with a REAL
# persisted artifact — see nfl_data_pipeline_spark/models.
_B0, _B_QTY, _B_DISC, _B_PRICE = -2.0, 0.05, 8.0, 0.00002


def _make_xscore(artifact_path: str | None = None):
    """Arrow-batched logistic scorer. The persisted artifact is the
    source of truth (the readRDS-then-predict contract of
    R/epa_predict.R:10-16), but it is read ONCE, driver-side, at
    plan-build time; the udf closure carries only the four plain
    floats. Round 2 loaded the artifact executor-side (memoized per
    process) and every one of the 32 python workers paid the package
    import + file read on its first batch — 0.93s → 1.67s at sf0.1.
    Coefficients are broadcast-as-closure data instead: same scores
    (tests/test_model_artifact.py pins the scores against the file),
    zero executor-side I/O. Built lazily: pandas_udf type parsing
    needs an active session."""
    from nfl_data_pipeline_spark.models import load_artifact

    m = load_artifact(artifact_path) if artifact_path else load_artifact()
    b0, b_qty, b_disc, b_price = (
        float(m["b0"]),
        float(m["b_qty"]),
        float(m["b_disc"]),
        float(m["b_price"]),
    )

    @F.pandas_udf(T.DoubleType())
    def _xscore(qty: pd.Series, disc: pd.Series, price: pd.Series) -> pd.Series:
        import numpy as np

        z = b0 + b_qty * qty + b_disc * disc + b_price * price
        return 1.0 / (1.0 + np.exp(-z))

    return _xscore


def _model_score_oracle() -> str:
    """Oracle built from the SAME persisted artifact the udf loads
    (repr floats round-trip exactly through SQL literals)."""
    from nfl_data_pipeline_spark.models import load_artifact

    m = load_artifact()
    z = (
        f"({m['b0']!r} + {m['b_qty']!r} * l_quantity"
        f" + {m['b_disc']!r} * l_discount"
        f" + {m['b_price']!r} * l_extendedprice)"
    )
    return f"""
    SELECT l_orderkey AS okey, l_linenumber AS line,
           1.0 / (1.0 + EXP(-{z})) AS xreturn,
           (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END
            - 1.0 / (1.0 + EXP(-{z}))) * 100.0 AS return_oe
    FROM lineitem
    WHERE l_quantity >= 25
    """


@register(
    "udf_model_score",
    _model_score_oracle(),
    survey_ids=("U1", "U2", "U3"),
    doc="Model-scoring column via pandas_udf — add_xpass/add_dakota "
    "(R/pass_rate_over_expected.R:16-24, R/epa_predict.R:10-16): the "
    "persisted artifact (models/return_model.json, fit by "
    "tools/fit_return_model.py with deterministic numpy GD) is loaded "
    "executor-side inside the Arrow-batched udf, then applied with "
    "the '-over-expected' delta (`pass_oe = 100*(pass - xpass)`).",
)
def udf_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.relational import spread

    # prune to the scored columns BEFORE spreading so the balancing
    # shuffle moves 6 columns, not the full table; the spread keeps a
    # single-file source from funneling every Arrow batch through one
    # python worker
    li = spread(
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 25)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_discount",
            "l_extendedprice",
            "l_returnflag",
        )
    )
    xscore = _make_xscore()
    scored = li.withColumn(
        "xreturn", xscore("l_quantity", "l_discount", "l_extendedprice")
    )
    actual = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    return scored.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line"),
        "xreturn",
        ((actual - F.col("xreturn")) * 100.0).alias("return_oe"),
    )


_N_ITER = 10


def _vig_base_sql() -> str:
    """Raw implied Under/Over probabilities with vig: one 2-leg book
    per order, legs summing to 1.12 (the power method assumes 2-outcome
    books — it diverges for many-leg groups, matching the reference's
    per-player Under/Over pairs)."""
    return """
      SELECT o_orderkey AS player, 'over' AS leg,
             ((o_orderkey % 41) / 100.0 + 0.30) * 1.12 AS pct
      FROM orders
      UNION ALL
      SELECT o_orderkey AS player, 'under' AS leg,
             (1.0 - ((o_orderkey % 41) / 100.0 + 0.30)) * 1.12 AS pct
      FROM orders
    """


def _vig_oracle() -> str:
    stages = [f"it0 AS ({_vig_base_sql()})"]
    for i in range(1, _N_ITER + 1):
        stages.append(
            f"""it{i} AS (
              SELECT player, leg,
                     POWER(pct, LN(2) / LN(2 / SUM(pct) OVER (PARTITION BY player)))
                       AS pct
              FROM it{i - 1}
            )"""
        )
    return (
        "WITH "
        + ",\n".join(stages)
        + f"\nSELECT player, leg, pct FROM it{_N_ITER}"
    )


@register(
    "vig_removal",
    _vig_oracle(),
    survey_ids=("U6",),
    doc="Iterative vig-removal fixed point — R/nfl_draft_espn_dk.R:28-40: "
    "10 iterations of pct ← pct^(log2 / log(2/sum(pct))) per group, as a "
    "driver-side loop (SURVEY §7 hard-part 4). All 10 window stages "
    "share the player partitioning, so the whole fixed point runs on "
    "ONE shuffle (asserted in tests/test_plan_shape.py). NO "
    "localCheckpoint inside the loop: a checkpointed RDD drops its "
    "output-partitioning metadata, so every post-checkpoint segment "
    "re-shuffles — measured 1.76s → 1.11s at sf0.1 by removing it. At "
    "10 iterations the stacked-plan depth is trivial; a 100+-iteration "
    "loop would checkpoint every ~16 AND re-mark partitioning with an "
    "explicit repartition(player) on the read-back. Post-loop group "
    "sums converge to 1.0 (asserted in tests).",
)
def vig_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("player")
    p_over = (F.col("o_orderkey") % 41) / 100.0 + 0.30
    over = o.select(
        F.col("o_orderkey").alias("player"),
        F.lit("over").alias("leg"),
        (p_over * 1.12).alias("pct"),
    )
    under = o.select(
        F.col("o_orderkey").alias("player"),
        F.lit("under").alias("leg"),
        ((1.0 - p_over) * 1.12).alias("pct"),
    )
    df = over.unionByName(under)
    for _ in range(_N_ITER):
        k = F.log(F.lit(2.0)) / F.log(2.0 / F.sum("pct").over(w))
        df = df.withColumn("pct", F.pow("pct", k))
    return df.select("player", "leg", "pct")


@register(
    "linear_fit",
    """
    SELECT o_orderpriority,
           REGR_SLOPE(o_totalprice, o_custkey % 1000) AS slope,
           REGR_INTERCEPT(o_totalprice, o_custkey % 1000) AS intercept,
           REGR_R2(o_totalprice, o_custkey % 1000) AS r2,
           REGR_COUNT(o_totalprice, o_custkey % 1000) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ids=("A15",),
    doc="lm(y ~ x) — R/preseason_predictiveness.R:150-151: OLS via SQL "
    "regression aggregates (slope/intercept/R², null-pair-skipping in "
    "both engines).",
)
def linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 1000).alias("x")
    return (
        o.select("o_orderpriority", F.col("o_totalprice").alias("y"), x)
        .groupBy("o_orderpriority")
        .agg(
            F.regr_slope("y", "x").alias("slope"),
            F.regr_intercept("y", "x").alias("intercept"),
            F.regr_r2("y", "x").alias("r2"),
            F.regr_count("y", "x").alias("n"),
        )
    )


# ---- exact distributed IRLS logistic regression --------------------------
# Classification counterpart of linear_fit (A15) in vig_removal's
# unrolled-iteration style (U6): 3 IRLS steps, each ONE corpus pass of
# decimal-exact moment sums; the Cramer solve shares its expression
# TEXT between the Python driver (Spark side) and the oracle CTE
# chain, so betas are bit-identical across engines.


def _logreg_feats(engine: str) -> tuple[str, str, str]:
    from nfl_data_pipeline_spark.operators.text import (
        STOPWORDS,
        lang_score_sql,
    )

    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    y = "CAST(lang = 'en' AS INT)"
    x1 = lang_score_sql("en", "text", engine)
    if engine == "spark":
        x2 = (
            f"(size(filter(split(text, ' '), t -> t IN ({stop})))"
            f" / CAST(size(split(text, ' ')) AS DOUBLE))"
        )
    else:
        x2 = (
            f"(len(list_filter(string_split(text, ' '), t -> t IN ({stop})))"
            f" / CAST(len(string_split(text, ' ')) AS DOUBLE))"
        )
    return y, x1, x2


def _logreg_oracle(n_iter: int = 3) -> str:
    from nfl_data_pipeline_spark.operators.modelfit import (
        IRLS_BETA_TEMPLATES,
        IRLS_SUM_NAMES,
        irls_sum_exprs,
    )

    y, x1, x2 = _logreg_feats("duck")
    ctes = [
        f"feats AS (SELECT {y} AS y, {x1} AS x1, {x2} AS x2 FROM documents)"
    ]
    prev_b = ("0.0", "0.0", "0.0")
    for i in range(1, n_iter + 1):
        sums = irls_sum_exprs("y", "x1", "x2", *prev_b)
        sum_sel = ", ".join(f"{e} AS {k}" for k, e in sums.items())
        src = "feats" if i == 1 else f"feats CROSS JOIN b{i - 1}"
        ctes.append(f"s{i} AS (SELECT {sum_sel} FROM {src})")
        refs = {k: k for k in IRLS_SUM_NAMES}
        beta_sel = ", ".join(
            f"{IRLS_BETA_TEMPLATES[b].format(**refs)} AS {b}"
            for b in ("beta0", "beta1", "beta2")
        )
        ctes.append(f"b{i} AS (SELECT {beta_sel} FROM s{i})")
        prev_b = (f"b{i}.beta0", f"b{i}.beta1", f"b{i}.beta2")
    return (
        "WITH " + ", ".join(ctes) + f" SELECT beta0, beta1, beta2, "
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM feats) AS n FROM b{n_iter}"
    )


@register(
    "logreg_fit",
    _logreg_oracle(),
    survey_ids=("A15", "U6"),
    doc="EXACT distributed IRLS logistic regression — is-English ~ "
    "trigram-language-score + stopword-ratio over documents, 3 "
    "iterations from beta=0. Each step is one corpus pass of 9 "
    "DECIMAL-exact weighted moment sums (order-independent, so both "
    "engines sum identically); the 3x3 weighted normal equations "
    "solve via Cramer expressions whose text is SHARED between the "
    "Python driver and the oracle's CTE chain — identical parse "
    "trees, bit-identical betas. The iterative-fit analog of "
    "linear_fit (A15) in vig_removal's unrolled style (U6). "
    "operators/modelfit.logistic_irls_exact.",
)
def logreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.modelfit import (
        logistic_irls_exact,
    )

    y, x1, x2 = _logreg_feats("spark")
    docs = load(spark, sf_dir, "documents")
    feats = docs.selectExpr(f"{y} AS y", f"{x1} AS x1", f"{x2} AS x2")
    feats = feats.localCheckpoint(eager=False)
    b0, b1, b2 = logistic_irls_exact(feats, "y", "x1", "x2", n_iter=3)
    n = feats.count()
    return spark.sql(
        f"SELECT CAST({b0!r} AS DOUBLE) AS beta0, "
        f"CAST({b1!r} AS DOUBLE) AS beta1, "
        f"CAST({b2!r} AS DOUBLE) AS beta2, "
        f"CAST({n} AS BIGINT) AS n"
    )


def _grouped_logreg_oracle(n_iter: int = 3) -> str:
    """The per-group IRLS CTE chain: s{i} GROUP BY g, b{i} applies
    the shared Cramer templates per group, next iteration joins the
    betas back by group — the grouped twin of _logreg_oracle."""
    from nfl_data_pipeline_spark.operators.modelfit import (
        IRLS_BETA_TEMPLATES,
        IRLS_SUM_NAMES,
        irls_sum_exprs,
    )

    y, x1, x2 = _logreg_feats("duck")
    ctes = [
        f"feats AS (SELECT source AS g, {y} AS y, {x1} AS x1,"
        f" {x2} AS x2 FROM documents)"
    ]
    for i in range(1, n_iter + 1):
        if i == 1:
            sums = irls_sum_exprs("y", "x1", "x2", "0.0", "0.0", "0.0")
            src_rel = "feats"
        else:
            sums = irls_sum_exprs(
                "y", "x1", "x2",
                f"b{i - 1}.beta0", f"b{i - 1}.beta1", f"b{i - 1}.beta2",
            )
            src_rel = f"feats JOIN b{i - 1} USING (g)"
        sum_sel = ", ".join(f"{e} AS {k}" for k, e in sums.items())
        ctes.append(f"s{i} AS (SELECT g, {sum_sel} FROM {src_rel} GROUP BY g)")
        refs = {k: k for k in IRLS_SUM_NAMES}
        beta_sel = ", ".join(
            f"{IRLS_BETA_TEMPLATES[b].format(**refs)} AS {b}"
            for b in ("beta0", "beta1", "beta2")
        )
        ctes.append(f"b{i} AS (SELECT g, {beta_sel} FROM s{i})")
    return (
        "WITH " + ", ".join(ctes)
        + ", nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n"
        " FROM feats GROUP BY g)"
        f" SELECT g AS source, beta0, beta1, beta2, n"
        f" FROM b{n_iter} JOIN nn USING (g)"
    )


@register(
    "grouped_logreg",
    _grouped_logreg_oracle(),
    survey_ids=("A15", "U6"),
    doc="Per-SOURCE exact distributed IRLS logistic regression — "
    "logreg_fit's model fit independently for every documents.source "
    "slice (the per-domain quality-classifier shape). Each iteration "
    "is ONE grouped aggregate pass (9 DECIMAL-exact moment sums per "
    "group, map-side combined); the per-group Cramer solves run "
    "driver-side over #groups rows and re-enter the next pass as a "
    "CASE of repr literals. Oracle unrolls the same CTE chain with "
    "GROUP BY g + per-iteration beta joins — the shared-template "
    "contract of logreg_fit, grouped; it covers NON-degenerate "
    "groups (the operator returns NULL betas for an exactly-singular "
    "slice where DuckDB's x/0.0 arithmetic would fabricate infs — "
    "pytest-pinned, can't occur on the fixture sources). Closes "
    "ROADMAP r5 #4 (grouped IRLS); complements grouped_logit (numpy "
    "applyInPandas form, pytest-gated).",
)
def grouped_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.modelfit import (
        grouped_logistic_irls_exact,
    )

    y, x1, x2 = _logreg_feats("spark")
    docs = load(spark, sf_dir, "documents")
    feats = docs.selectExpr(
        "source", f"{y} AS y", f"{x1} AS x1", f"{x2} AS x2"
    ).localCheckpoint(eager=False)
    fit = grouped_logistic_irls_exact(
        feats, "source", "y", "x1", "x2", n_iter=3
    )
    # literal VALUES instead of createDataFrame: the parallelize path
    # materializes the (tiny) coefficient table through a Python
    # worker stage on every action; a VALUES plan is pure JVM — the
    # same repr-literal round-trip logreg_fit's final SELECT uses
    def cell(v, t):
        if v is None:
            return f"CAST(NULL AS {t})"
        if t == "STRING":
            # escape backslashes FIRST: escapedStringLiterals is
            # false by default, so a raw backslash in the literal
            # would be eaten as an escape (ADVICE r12)
            s = str(v).replace("\\", "\\\\").replace("'", "''")
            return "'" + s + "'"
        return f"CAST({v!r} AS {t})"

    if not fit:
        # `VALUES` with zero tuples is a parse error (ADVICE r12)
        from nfl_data_pipeline_spark.operators.localframe import (
            empty_frame,
        )

        return empty_frame(
            spark,
            "source string, beta0 double, beta1 double, beta2 double,"
            " n bigint",
        )
    rows = ", ".join(
        "(" + ", ".join([
            cell(g, "STRING"), cell(b0, "DOUBLE"), cell(b1, "DOUBLE"),
            cell(b2, "DOUBLE"), f"CAST({int(n)} AS BIGINT)",
        ]) + ")"
        for g, b0, b1, b2, n in fit
    )
    return spark.sql(
        f"SELECT * FROM (VALUES {rows}) AS t(source, beta0, beta1, beta2, n)"
    )


@register(
    "grouped_ols",
    """
    SELECT o_orderpriority,
           REGR_SLOPE(o_totalprice, o_custkey % 1000) AS slope,
           REGR_INTERCEPT(o_totalprice, o_custkey % 1000) AS intercept,
           REGR_R2(o_totalprice, o_custkey % 1000) AS r2,
           CAST(REGR_COUNT(o_totalprice, o_custkey % 1000) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ids=("A15",),
    doc="Per-group lm() as a DISTRIBUTED grouped-map (the reference's "
    "per-slice fit pattern, R/preseason_predictiveness.R:150-151 / "
    "darko scoring loop): operators/modelfit.grouped_ols co-locates "
    "each group via the groupBy shuffle and fits numpy OLS where the "
    "rows live (applyInPandas, Arrow-batched) — only coefficients "
    "return. Oracle = DuckDB REGR_* aggregates; numpy lstsq agrees "
    "well inside the 9-sig-digit hash canonicalization on "
    "well-conditioned data. Complements linear_fit (A15), which "
    "exercises the SQL regression aggregates.",
)
def grouped_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.modelfit import grouped_ols

    o = load(spark, sf_dir, "orders")
    df = o.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("y"),
        (F.col("o_custkey") % 1000).cast("double").alias("x"),
    )
    fit = grouped_ols(df, ["o_orderpriority"], "y", ["x"])
    return fit.select(
        "o_orderpriority",
        F.col("coefs")[0].alias("slope"),
        "intercept",
        "r2",
        "n",
    )
