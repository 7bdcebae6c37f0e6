"""Pass-block grade panels — reproduction of
``pff/99_passblock_piece.R`` + ``R/preseason_predictiveness.R``'s
reshape/fit moves, over generic grade/win-total inputs.

Moves: per-season min-max rescale windows (``99_passblock:43-68``),
full_join of panels (``:71``), top-snap player dedup (``:220-226``),
year-over-year lag stability (``:206-216,234-241``), decade-column
unpivot (``preseason:18-21``), and the lm fit (``preseason:150-151``)
via SQL regression aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_data_pipeline_spark.functions import r_cor
from nfl_data_pipeline_spark.operators.relational import (
    grouped_rescale,
    r_join,
    top1_per_group,
)


def rescaled_team_grades(team_grades: DataFrame, cols: list[str]) -> DataFrame:
    """Per-season 0-100 rescale of each grade column
    (pff/99_passblock_piece.R:43-68)."""
    out = team_grades
    for c in cols:
        out = grouped_rescale(
            out, ["season"], c, f"{c}_scaled", strict=True
        )
    return out


def espn_win_rates(raw: DataFrame) -> DataFrame:
    """The reference's ``espn`` frame (pff/99_passblock_piece.R:
    26-53): the bound per-season PBWR scrapes → ``wr =
    as.numeric(wr)`` (the site serves text) → per-season 0-100
    min-max rescale (:45-50 — the sequential mutate ``wr = wr - min``
    then ``100 * wr / max(wr - min)`` IS the standard rescale) →
    ``select(posteam, season, wr)`` → ``mutate_at(c("posteam"),
    nflfastR:::team_name_fn)`` (:53). Note the asymmetry preserved
    downstream: only THIS side of the :71 full_join is normalized."""
    from nfl_data_pipeline_spark.plans.pff_grades import team_name_fn

    cast = raw.withColumn("wr", F.col("wr").cast("double"))
    scaled = grouped_rescale(
        cast, ["season"], "wr", "wr_scaled", strict=True
    )
    return scaled.select(
        team_name_fn("posteam").alias("posteam"),
        "season",
        F.col("wr_scaled").alias("wr"),
    )


def pff_block_grades(raw: DataFrame, min_season: int = 2019) -> DataFrame:
    """The reference's ``pff`` frame (pff/99_passblock_piece.R:
    56-68): ``filter(season >= 2019)`` → ``pb_grade =
    grades_pass_block`` → per-season 0-100 rescale →
    ``select(posteam, season, pb_grade)``. No team_name_fn here —
    the stored panel was normalized at scrape time (0_scrape.R:123)
    and the reference does NOT re-apply it on this side."""
    base = raw.filter(F.col("season") >= min_season).select(
        F.col("team_abbr").alias("posteam"),
        "season",
        F.col("grades_pass_block").alias("pb_grade"),
    )
    scaled = grouped_rescale(
        base, ["season"], "pb_grade", "pb_scaled", strict=True
    )
    return scaled.select(
        "posteam", "season", F.col("pb_scaled").alias("pb_grade")
    )


def pbwr_vs_grade(espn: DataFrame, pff: DataFrame) -> DataFrame:
    """The reference's ``joined`` (pff/99_passblock_piece.R:70-73):
    ``espn %>% full_join(pff, by = c("season", "posteam"))`` (dplyr
    NA-matching full join) plus the figure's point label ``paste0(
    posteam, substr(as.character(season), 3, 4))``. The load_teams
    color join (:72) is render-side (S11) — with_team_colors covers
    the data-table form."""
    joined = r_join(espn, pff, ["season", "posteam"], "full_outer")
    # paste0 coerces NA pieces to the literal "NA" (the epa_panel
    # _initial_dot_last idiom) — a NULL posteam/season survives the
    # NA-matching full join, and R labels it "NA19"/"SEANA", never NA
    return joined.withColumn(
        "label",
        F.concat(
            F.coalesce(F.col("posteam"), F.lit("NA")),
            F.coalesce(
                F.substring(F.col("season").cast("string"), 3, 2),
                F.lit("NA"),
            ),
        ),
    )


def top_snap_players(player_grades: DataFrame, min_snaps: int = 400) -> DataFrame:
    """Snap filter + one row per player-season (top snaps)
    (pff/99_passblock_piece.R:220-226)."""
    eligible = player_grades.filter(F.col("snap_counts_pass_play") >= min_snaps)
    return top1_per_group(
        eligible,
        ["player_id", "season"],
        [F.col("snap_counts_pass_play").desc(), F.col("team_abbr").asc()],
    )


def grade_stability(player_grades: DataFrame, grade_col: str) -> DataFrame:
    """Year-over-year lag + same-team/changed-team split correlation
    (pff/99_passblock_piece.R:206-216,248-253)."""
    w = Window.partitionBy("player_id").orderBy("season")
    lagged = (
        player_grades.withColumn("lag_grade", F.lag(grade_col, 1).over(w))
        .withColumn("lag_team", F.lag("team_abbr", 1).over(w))
        .filter(F.col("lag_grade").isNotNull())
        .withColumn(
            "same_team",
            (F.col("team_abbr") == F.col("lag_team")).cast("int"),
        )
    )
    # R cor DEFAULT use="everything" (:261-265): any NA/NaN element
    # NAs the whole split stat — F.corr would skip incomplete pairs
    # (r9 fix). The frame filters lag_grade non-null, but the current
    # grade can be NaN from a degenerate position-season rescale.
    return lagged.groupBy("same_team").agg(
        F.count("*").cast("bigint").alias("n"),
        r_cor(grade_col, "lag_grade").alias("yoy_corr"),
    )


def unpivot_win_totals(wide: DataFrame, year_cols: list[str], prefix_base: int) -> DataFrame:
    """pivot_longer(x00:x09) decade columns → (team, season, over)
    (R/preseason_predictiveness.R:18-21), then
    ``mutate(over = as.numeric(over)) %>% filter(!is.na(over))``
    (:47-50 — "Texans before they existed"): empty decade cells drop
    from the long frame entirely, BEFORE any season_wins rollup or
    downstream join/audit sees them."""
    long = wide.unpivot(
        ids=["team_abbr"],
        values=year_cols,
        variableColumnName="year_col",
        valueColumnName="over",
    )
    return (
        long.withColumn("over", F.col("over").cast("double"))
        .filter(F.col("over").isNotNull())
        .withColumn(
            "season",
            (
                F.lit(prefix_base)
                + F.regexp_replace("year_col", "[^0-9]", "").cast("int")
            ),
        )
        .drop("year_col")
    )


def preseason_fit(joined: DataFrame) -> DataFrame:
    """lm(diff ~ over) (R/preseason_predictiveness.R:150-151) as SQL
    regression aggregates (A15)."""
    return joined.agg(
        F.regr_slope("diff", "over").alias("slope"),
        F.regr_intercept("diff", "over").alias("intercept"),
        F.regr_r2("diff", "over").alias("r2"),
        F.regr_count("diff", "over").alias("n"),
    )


def player_stability_panel(
    player_grades: DataFrame,
    min_snaps: int = 400,
    min_season: int = 2007,
) -> DataFrame:
    """The reference's player ``panel`` (pff/99_passblock_piece.R:
    222-258): snap filter + one row per player-season (top snaps,
    ``arrange(player_id, season, -snap_counts)`` + slice — team
    tiebreak made explicit), grade rescaled 0-100 per POSITION-SEASON
    (``:228-236`` — not per season alone: tackles and interior linemen
    are graded on different curves), year-over-year lags per player,
    rows with a prior season only, and the 4-way ``type`` split
    (T / G-C × same / switched team, ``:245-252``)."""
    top = top_snap_players(
        player_grades.filter(F.col("season") >= min_season), min_snaps
    )
    from nfl_data_pipeline_spark.operators.relational import grouped_rescale

    scaled = grouped_rescale(
        top,
        ["position", "season"],
        "grades_pass_block",
        "pb_grade",
        strict=True,
    )
    w = Window.partitionBy("player_id").orderBy("season")
    lagged = (
        scaled.withColumn("lgrade", F.lag("pb_grade", 1).over(w))
        .withColumn("lteam", F.lag("team_abbr", 1).over(w))
        .withColumn("lseason", F.lag("season", 1).over(w))
        .filter(F.col("lteam").isNotNull() & F.col("lgrade").isNotNull())
    )
    is_t = F.col("position") == "T"
    same = F.col("team_abbr") == F.col("lteam")
    ptype = (
        F.when(same & is_t, "T, same team")
        .when(same & ~is_t, "G/C, same team")
        .when(~same & is_t, "T, switched teams")
        .otherwise("G/C, switched teams")
    )
    return lagged.withColumn("type", ptype).select(
        "season",
        "lseason",
        "player",
        "player_id",
        "position",
        "team_abbr",
        "lteam",
        "pb_grade",
        "lgrade",
        F.col("snap_counts_pass_play").alias("snaps"),
        "type",
    )


def stability_by_type(panel: DataFrame) -> DataFrame:
    """``ddply(panel, type, cor(pb_grade, lgrade))`` rounded to 2
    (pff/99_passblock_piece.R:255) — the figure's per-facet
    correlation labels."""
    # ddply's cor is the R DEFAULT use="everything" (:267): any
    # NA/NaN element NAs the facet label (r9 fix: F.corr skipped)
    return panel.groupBy("type").agg(
        F.bround(r_cor("pb_grade", "lgrade"), 2).alias("cor"),
        F.count("*").cast("bigint").alias("n"),
    )


def team_protection_cors(team_frame: DataFrame, after_season: int = 2019) -> DataFrame:
    """The team-level ``cors`` block (pff/99_passblock_piece.R:
    205-216): lag wr / pb_grade per team over seasons, keep seasons
    with a prior year, and the four headline correlations —
    grade-vs-lagged-grade, wr-vs-lagged-wr, epa-vs-wr,
    epa-vs-lagged-wr."""
    w = Window.partitionBy("posteam").orderBy("season")
    lagged = (
        team_frame.withColumn("lgrade", F.lag("pb_grade", 1).over(w))
        .withColumn("lwr", F.lag("wr", 1).over(w))
        .filter(F.col("season") > after_season)
    )
    # R cor DEFAULT use="everything" (:213-216): a single kept row
    # with a NULL lag (a team whose first covered season lands inside
    # the > after_season window) NAs that statistic entirely — F.corr
    # would silently skip the row (r9 fix)
    return lagged.agg(
        r_cor("pb_grade", "lgrade").alias("cor_grade_lgrade"),
        r_cor("wr", "lwr").alias("cor_wr_lwr"),
        r_cor("epa", "wr").alias("cor_epa_wr"),
        r_cor("epa", "lwr").alias("cor_epa_lwr"),
        F.count("*").cast("bigint").alias("n"),
    )


def team_pass_epa(pbp: DataFrame) -> DataFrame:
    """The "pb_grade versus pass offense" pbp leg
    (pff/99_passblock_piece.R:114-118): base filter ``down <= 4,
    pass == 1, season_type == "REG", !is.na(epa)`` (``:115``), then
    per-team-season mean EPA. R's ``mean`` is strict but epa is
    already non-null here, so plain avg matches."""
    return (
        pbp.filter(
            (F.col("down") <= 4)  # :115 (R drops NA downs here too)
            & (F.col("pass") == 1)
            & (F.col("season_type") == "REG")
            & F.col("epa").isNotNull()
        )
        .groupBy("posteam", "season")
        .agg(F.avg("epa").alias("epa"))
    )


def grade_vs_pass_epa(pbp: DataFrame, joined_grades: DataFrame) -> DataFrame:
    """``df <- pbp %>% left_join(joined, by = c("posteam",
    "season"))`` (pff/99_passblock_piece.R:120-121): team pass EPA
    against the joined grade panel. The grade panel is one row per
    team-season (~32 rows/season) — broadcast it."""
    return team_pass_epa(pbp).join(
        F.broadcast(joined_grades), ["posteam", "season"], "left"
    )
