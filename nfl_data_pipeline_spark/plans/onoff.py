"""Player on/off-field splits — reproduction of ``R/on_off_nflreadr.R``.

The reference loads its base frame with ``filter(!is.na(down),
!is.na(posteam))`` (``:7``), tests membership with
``str_detect(offense_players, pid) | str_detect(defense_players,
pid)`` (``:31-32``) — substring matching over the ';'-joined id
lists, on EITHER side regardless of which unit the player plays —
and scopes to the player's team with ``posteam == tm`` when ``o = 1``
(offense) or ``defteam == tm`` when ``o = 0`` (defense, ``:44-47``).
It then runs 8 near-identical grouped-agg blocks (``:59-89``). Here:
exact membership via split + array_contains (the substring form has
prefix-collision false positives — the reference's latent bug, noted
in SURVEY §2 P8), a ``side`` parameter for the o=1/o=0 branch, and
ONE aggregation over an on/off × pass/rush dimension grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_on_off(
    participation: DataFrame,
    gsis_id: str,
    team: str,
    filter_epa: bool = True,
    side: str = "posteam",
) -> DataFrame:
    """Tag each team snap with on/off for the player.

    ``side`` is the reference's ``o`` argument: ``"posteam"`` ⇔
    ``o = 1`` (offensive player — keep the team's offensive snaps,
    ``:44-45``), ``"defteam"`` ⇔ ``o = 0`` (defensive player — keep
    the snaps the team defends, ``:46-47``). Membership is checked
    over BOTH ``offense_players`` and ``defense_players`` in either
    mode (``:31-32``). The base frame drops null-down / null-posteam
    rows exactly like the reference's load-time filter (``:7``).

    ``filter_epa=True`` is the summary queries' convenience default;
    the reference table itself (`on_off_table`) keeps null-epa snaps
    like the R pipeline does (its play counts include them and its
    NA-propagating means surface them)."""
    if side not in ("posteam", "defteam"):
        raise ValueError(f"side must be 'posteam' or 'defteam', got {side!r}")
    snaps = participation.filter(
        F.col("down").isNotNull()  # R/on_off_nflreadr.R:7 !is.na(down)
        & F.col("posteam").isNotNull()  # :7 !is.na(posteam)
        & (F.col(side) == team)  # :44-47 o=1 → posteam, o=0 → defteam
    )
    if filter_epa:
        snaps = snaps.filter(F.col("epa").isNotNull())
    on = F.array_contains(
        F.split("offense_players", ";"), gsis_id
    ) | F.array_contains(F.split("defense_players", ";"), gsis_id)
    return snaps.withColumn("on_field", F.when(on, "on").otherwise("off"))


def on_off_summary(
    participation: DataFrame, gsis_id: str, team: str,
    side: str = "posteam",
) -> DataFrame:
    """The 8 summarize blocks of R/on_off_nflreadr.R:59-89 as one
    grouped aggregation over (on_field, play_kind)."""
    tagged = split_on_off(participation, gsis_id, team, side=side)
    kind = F.when(F.col("pass") == 1, "pass").otherwise("rush")
    return (
        tagged.withColumn("play_kind", kind)
        .groupBy("on_field", "play_kind")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.avg("epa").alias("epa_play"),
            F.avg("success").alias("success_rate"),
            F.avg("first_down").alias("first_down_rate"),
        )
    )


def on_off_table(
    participation: DataFrame, gsis_id: str, team: str,
    side: str = "posteam",
) -> DataFrame:
    """The reference's FULL ``bound`` table (R/on_off_nflreadr.R:
    59-95): all 8 summarize blocks — All plays (type 1), early downs
    + early rush/pass (4-6), 3rd/4th down + late rush/pass (7-9),
    and the Pass/Rush type split (2) — as ONE aggregation: each play
    emits the (rowname, type) blocks it belongs to (explode of a
    computed struct array, so the corpus is read once, not eight
    times), then a single grouped agg + the reference's display
    rounding (`:92` — R ``round`` = HALF_EVEN = bround) and
    ``arrange(-split, type)`` ordering.

    NA semantics follow the reference line by line: ``epa``/
    ``success``/``p`` use R's NA-propagating ``mean`` (r_mean
    strict), ``fd`` is the one ``na.rm = T`` column (`:60`), and
    success/first_down are pre-scaled ×100 (`:34`)."""
    from nfl_data_pipeline_spark.functions.rsem import r_mean, r_mean_nan

    tagged = split_on_off(
        participation, gsis_id, team, filter_epa=False, side=side
    ).withColumn(
        "split", F.when(F.col("on_field") == "on", 1).otherwise(0)
    )
    early = (F.col("down") == 1) | (F.col("down") == 2)
    late = (F.col("down") == 3) | (F.col("down") == 4)
    is_pass = F.col("pass") == 1
    is_rush = F.col("rush") == 1

    def block(cond, rowname, btype, sub=0):
        # ``sub`` mirrors the type-2 block's frame order: it comes
        # from summarize over group_by(split, pass), so Rush (pass=0)
        # precedes Pass (pass=1) in the bound frame and arrange(-split,
        # type) is STABLE — rowname-asc would wrongly put Pass first
        return F.when(
            cond,
            F.struct(
                F.lit(rowname).alias("rowname"),
                F.lit(btype).alias("type"),
                F.lit(sub).alias("sub"),
            ),
        )

    blocks = F.array_compact(
        F.array(
            block(F.lit(True), "All plays", 1),
            block(early, "Early downs (1st & 2nd)", 4),
            block(early & is_rush, "Early rush", 5),
            block(early & is_pass, "Early pass", 6),
            block(late, "3rd/4th down", 7),
            block(late & is_rush, "Late rush", 8),
            block(late & is_pass, "Late pass", 9),
            block(is_pass, "Pass", 2, sub=1),
            block(~is_pass, "Rush", 2, sub=0),
        )
    )
    exploded = tagged.withColumn("_b", F.explode(blocks)).select(
        "*", "_b.rowname", "_b.type", "_b.sub"
    )
    return (
        exploded.groupBy("split", "rowname", "type", "sub")
        .agg(
            F.bround(r_mean(F.col("epa")), 2).alias("epa"),
            F.bround(r_mean(100 * F.col("success")), 2).alias("success"),
            F.bround(100 * r_mean(F.col("pass")), 0).alias("p"),
            F.count("*").cast("bigint").alias("play"),
            # R mean(all-NA, na.rm=T) is NaN, not NA (same semantics
            # pinned for wilson_epa) — round(NaN, 2) stays NaN
            F.bround(
                r_mean_nan(100 * F.col("first_down")), 2
            ).alias("fd"),
        )
        .orderBy(F.desc("split"), F.asc("type"), F.asc("sub"))
        .select("split", "rowname", "epa", "success", "p", "play", "fd")
    )

