"""Grouped-cumsum 'game over' analysis — reproduction of
``R/wilson_game_pass_freq.R``.

The signature move (``:22-37``): per game, in play order, a running
sum of a condition becomes a sticky state flag (`over =
if_else(cumsum(under_wp) > 0, 1, 0)`), then a per-game summarize of
early-down pass rate while the game was alive. The reference relies
on frame row order; we order by (game_id, play_id) explicitly
(SURVEY §7 hard-part 1).

Reference parity (R/wilson_game_pass_freq.R):

- ``:21``  normal plays: `!is.na(down), rush == 1 | pass == 1`
- ``:26``  `under_wp = if_else(between(wp, .10, .90), 0, 1)` —
  TWO-SIDED: the game is 'over' in either direction (blowout wins
  trip it too, not just losses)
- ``:29``  `over = if_else(cumsum(under_wp) > 0, 1, 0)`
- ``:32``  `wilson_epa = if_else(name == "R.Wilson", qb_epa, NA)`
- ``:35``  `home = if_else(home_team == "SEA", 1, 0)`
- ``:38``  keep `over == 0, down <= 2`
- ``:39-46`` summarise: mean(pass), first(season/week), mean
  wilson_epa na.rm, first(defteam/home)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_data_pipeline_spark.functions.rsem import r_first, r_mean, r_mean_nan


def with_game_over_flag(
    pbp: DataFrame,
    team: str,
    wp_floor: float = 0.10,
    wp_ceiling: float = 0.90,
) -> DataFrame:
    """`under_wp = if_else(between(wp, floor, ceiling), 0, 1)` (note:
    two-sided — a blowout in EITHER direction ends the 'alive' phase);
    `over = cumsum(under_wp) > 0` per game in play order
    (R/wilson_game_pass_freq.R:20-30)."""
    plays = pbp.filter(
        (F.col("posteam") == team)
        & F.col("down").isNotNull()
        & ((F.col("rush") == 1) | (F.col("pass") == 1))
    )
    w = (
        Window.partitionBy("game_id")
        .orderBy("play_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    under = F.when(
        F.col("wp").between(wp_floor, wp_ceiling), 0
    ).otherwise(1)
    return plays.withColumn(
        "game_over", F.when(F.sum(under).over(w) > 0, 1).otherwise(0)
    )


def per_game_summary(
    pbp: DataFrame, team: str, qb_name: str = "R.Wilson"
) -> DataFrame:
    """The reference's full per-game summarise over alive early downs
    (R/wilson_game_pass_freq.R:38-46): mean(pass), first(season),
    first(week), mean qb EPA on the named QB's plays (na.rm),
    first(defteam), first(home). `first` is over the explicit play
    order (A5, ``r_first``); season/week/defteam/home are
    game-constant, the ordered first still mirrors dplyr's frame-order
    semantics."""
    flagged = with_game_over_flag(pbp, team)
    alive = flagged.filter(
        (F.col("game_over") == 0) & (F.col("down") <= 2)
    )
    # :35 if_else(home_team == team, 1, 0): a NULL home_team is NA in
    # R (NA == "SEA" is NA), not 0 — keep the NULL so the label leg
    # renders it "NA" like glue
    home_flag = F.when(F.col("home_team") == team, 1).when(
        F.col("home_team").isNotNull(), 0
    )
    wilson_epa = F.when(F.col("name") == qb_name, F.col("qb_epa"))
    first = r_first(
        ["play_id"], "season", "week", "defteam", home_flag.alias("home")
    )
    return alive.groupBy("game_id").agg(
        # :40 mean(pass) — R's STRICT default (no na.rm): one NA
        # pass indicator NAs the game's rate (r9 fix: F.avg skips)
        r_mean("pass").alias("pass"),
        first["season"].alias("season"),
        first["week"].alias("week"),
        # R mean(x, na.rm=T) of an ALL-NA vector is NaN, not NA —
        # a game the named QB never played in yields NaN exactly
        # as the reference frame does (SQL AVG alone gives NULL)
        r_mean_nan(wilson_epa).alias("wilson_epa"),
        first["defteam"].alias("defteam"),
        first["home"].alias("home"),
    )


def chart_frame(summary: DataFrame, playoff_week: int = 17) -> DataFrame:
    """The reference's chart-frame mutate
    (R/wilson_game_pass_freq.R:48-62): ``home_lbl`` (@ for road
    games), ``playoff_lbl`` (* past week 17), the glue label
    ``{home_lbl}{defteam}{substr(game_id, 3, 4)}{playoff_lbl}`` (R's
    substr(3, 4) is chars 3..4 — the season's two-digit suffix in
    nflfastR game ids), the 4-way ``era`` case_when (:52-61), and the
    ``labeled`` flag reproducing the geom_text_repel data filter
    (:87-89 — extremes and every non-era-1 game get labels)."""
    # if_else over a NULL operand yields NA in R, and glue renders an
    # NA piece as the literal "NA" (the epa_panel _initial_dot_last
    # idiom) — so NULL home/week keep a NULL lbl here and coalesce to
    # "NA" inside the label concat, never silently "" / "@"
    home_lbl = F.when(F.col("home") == 1, F.lit("")).when(
        F.col("home") == 0, F.lit("@")
    )
    playoff_lbl = F.when(F.col("week") > playoff_week, F.lit("*")).when(
        F.col("week") <= playoff_week, F.lit("")
    )
    era = (
        F.when(F.col("season") < 2020, 1)
        .when((F.col("season") == 2020) & (F.col("defteam") == "LA"), 2)
        .when((F.col("season") == 2020) & (F.col("week") <= 9), 3)
        .otherwise(4)
    )
    out = summary.select(
        "*",
        home_lbl.alias("home_lbl"),
        playoff_lbl.alias("playoff_lbl"),
        era.alias("era"),
    ).withColumn(
        "label",
        F.concat(
            F.coalesce(F.col("home_lbl"), F.lit("NA")),
            F.coalesce(F.col("defteam"), F.lit("NA")),
            F.coalesce(F.substring("game_id", 3, 2), F.lit("NA")),
            F.coalesce(F.col("playoff_lbl"), F.lit("NA")),
        ),
    )
    # R's NaN comparisons are NA, and filter() DROPS NA rows — so a
    # NaN wilson_epa (QB never played) can only be labeled via the
    # pass/era legs; Spark's NaN total ordering would make
    # `NaN > 0.8` TRUE without the isnan guard
    epa_known = ~F.isnan("wilson_epa")
    return out.withColumn(
        "labeled",
        F.when(
            (F.col("pass") < 0.35)
            | (F.col("pass") > 0.65)
            | (epa_known & (F.col("wilson_epa") > 0.8))
            | (epa_known & (F.col("wilson_epa") < -0.25))
            | (F.col("era") > 1),
            1,
        ).otherwise(0),
    )
