"""Pass rate over expected — reproduction of
``R/pass_rate_over_expected.R``.

``nflfastR::add_xpass()`` (U2) appends a modeled pass probability from
situation features; ``pass_oe = 100*(pass - xpass)`` (``:20-24``); team
aggregates join the broadcast teams dim (``:25-38``). The model here is
a fixed-coefficient logistic (stand-in weights, not nflfastR's fitted
ones; SURVEY §7 hard-part 5), scored as a native Catalyst expression so
the analysis never leaves the JVM. The registry's ``udf_model_score``
keeps the pandas-UDF scoring shape (U1/U2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.functions import inv_logit

# situation → pass-probability coefficients (stand-in artifact)
_COEF = {
    "b0": -0.35,
    "down2": 0.25,
    "down3": 1.10,
    "down4": 0.90,
    "ydstogo": 0.065,
    "half_seconds": -0.00035,
    "wp_dist": -1.2,  # |wp - 0.5|: trailing/leading teams diverge
}


def add_xpass(pbp: DataFrame) -> DataFrame:
    """Score every play with expected pass probability + pass_oe
    (R/pass_rate_over_expected.R:12-24): the ``big_data`` base filter
    is ``!is.na(posteam) & !is.na(epa)`` (``:13-14``); the scoreable
    subset (nflfastR's internal xpass validity ≈ real scrimmage
    plays) keeps rows where the model yields a value, mirrored here
    as pass-or-rush plays with a down."""
    plays = pbp.filter(
        F.col("down").isNotNull()
        & F.col("posteam").isNotNull()
        & F.col("epa").isNotNull()
        & ((F.col("pass") == 1) | (F.col("rush") == 1))
    )
    c, down = _COEF, F.col("down")
    z = (
        c["b0"]
        + c["down2"] * (down == 2).cast("double")
        + c["down3"] * (down == 3).cast("double")
        + c["down4"] * (down == 4).cast("double")
        + c["ydstogo"] * F.col("ydstogo")
        + c["half_seconds"] * F.col("half_seconds_remaining")
        + c["wp_dist"] * F.abs(F.col("wp") - 0.5)
    )
    # NULL where a feature is NULL or NaN (a NaN feature makes z NaN)
    scored = plays.withColumn(
        "xpass", F.nanvl(inv_logit(z), F.lit(None).cast("double"))
    )
    return scored.withColumn(
        "pass_oe", 100.0 * (F.col("pass") - F.col("xpass"))
    )


def team_pass_oe(
    pbp: DataFrame,
    teams: DataFrame,
    side: str = "posteam",
    early_downs_only: bool = True,
) -> DataFrame:
    """The chart frame (R/pass_rate_over_expected.R:19-38, defense
    leg ``:118-136``): EARLY-DOWN (``down <= 2``, ``:23``) team
    aggregates joined to the broadcast 32-row dim (J5), plus the
    ``arrange(pass_oe)`` dumbbell geometry — ``x`` = 1..n rank in
    pass_oe order (tiebreak made explicit by team), ``y`` = expected
    rate, ``yend`` = actual rate (``:32-35``). ``side='defteam'`` is
    the opposing-pass-rate leg; ``early_downs_only=False`` is the
    engine-side convenience escape, not a reference shape."""
    from pyspark.sql.window import Window

    # :21-24 (and the :17 data frame): filter(!is.na(pass_oe)) runs
    # BEFORE the summarize — rows the xpass model can't score drop
    # from the frame entirely (r9 fix: previously unfiltered, so
    # n_plays counted unscoreable rows and R's strict means would
    # have NA'd where AVG skipped). Post-filter the frame is complete
    # in pass/xpass/pass_oe, so plain AVG == R's strict mean here.
    scored = add_xpass(pbp).filter(F.col("pass_oe").isNotNull())
    if early_downs_only:
        scored = scored.filter(F.col("down") <= 2)
    agg = scored.groupBy(side).agg(
        F.count("*").cast("bigint").alias("n_plays"),
        F.avg("pass").alias("pass_rate"),
        F.avg("xpass").alias("exp_pass_rate"),
        F.avg("pass_oe").alias("pass_oe"),
    )
    w = Window.orderBy(F.asc("pass_oe"), F.asc(side))
    ranked = (
        agg.withColumn("x", F.row_number().over(w))
        .withColumn("y", F.col("exp_pass_rate"))
        .withColumn("yend", F.col("pass_rate"))
    )
    return ranked.join(
        F.broadcast(teams.select("team_abbr", "team_name", "team_color")),
        ranked[side] == F.col("team_abbr"),
        "left",
    ).drop("team_abbr")
