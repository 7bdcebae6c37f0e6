"""QB-season panel with lag structure — reproduction of the full
six-source chain of ``R/epa_predict.R`` (the reference's heaviest
analysis).

Moves: filtered QB-season aggregation (``:171-214``), passing-yield
stats with AY/A (``:176-190``), playcaller mode + change flag
(``:26-57``), SIS leaderboard leg with separate + name repair +
source-side lags (``:65-86``), PFF grades + WAR combine (``:115-168``),
multi-source left joins (``:215-219``), the 13-column lag panel by
entity ordered by season (``:241-261``), join-integrity audits
(``:229-238``), and the correlation table (``:270-292``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_data_pipeline_spark.functions import clamp, r_first, r_mean, r_mean_nan, r_sum
from nfl_data_pipeline_spark.operators.relational import r_join, top1_per_group

# The metrics lagged by QB across seasons — the reference's 13-column
# lag block (R/epa_predict.R:241-261), one per panel measure:
# pbp-derived rates/volumes, AY/A (:184), the ESPN QBR join, the SIS
# total-points pair, WAR per play (:228), and the CPOE+EPA composite
# index (the add_dakota stand-in — SURVEY §7 hard-part 5: assert the
# pipeline structure, not nflfastR's fitted model).
LAG_METRICS = [
    "epa_play",
    "epa_per_play",
    "total_epa",
    "cpoe",
    "success_rate",
    # :259 lag_qbr = lag(qbr) lags the LOGIT — :224-226 redefine qbr
    # as log((qbr_total/100)/(1-qbr_total/100)) before the lag block,
    # so the stability grid's "QBR (ESPN)" row (:283) correlates
    # logits, not raw qbr_total
    "qbr_logit",
    "yards",
    "ints",
    "pass_tds",
    "n_plays",
    "aya",
    "tdint",
    "index",
    "total_points",
    "tpp",
    "war_per_play",
    "posteam",  # lteam / lag_posteam (:251,260)
]

# Id-keyed name repairs — the reference's case_when data-repair tables
# (R/epa_predict.R:73-78 sis_id 955 → "R.Griffin III"; :124-129
# player_id 7008 → "R.Griffin III"). The fixture plants DAL's QB under
# his legal first name ("Rayne Prescott" → naive R.Prescott), repaired
# here by source id exactly as the reference does.
SIS_ID_NAME_FIX = {906: "D.Prescott"}
# The sis case_when's NAME-keyed arm (R/epa_predict.R:73-77: name ==
# "G.Minshew" FIRST, then the sis_id == 955 arm) — same ordered
# first-match-wins structure as the PFF repair (r9).
SIS_NAME_FIX = {"G.Minshew": "G.Minshew II"}

# The qbr frame's literal name repairs (R/epa_predict.R:97-101
# case_when on the BUILT name, plus the :107 post-hoc T.Pryor Sr.
# variant) — string-keyed because the reference keys these on the
# built name, unlike the id-keyed sis/pff tables.
QBR_NAME_FIX = {
    "D.Haskins Jr.": "D.Haskins",
    "G.Minshew": "G.Minshew II",
    "T. Pryor Sr.": "T.Pryor",
    "T.Pryor Sr.": "T.Pryor",
}
PFF_ID_NAME_FIX = {7006: "D.Prescott"}

# The PFF case_when's NAME-keyed arm (R/epa_predict.R:120-126: the
# grades AND war frames repair the built "G.Minshew" → "G.Minshew II"
# BEFORE the id-keyed R.Griffin arm; the "A.Rodgers" / "T.Taylor"
# identity arms are no-ops and not reproduced). R's case_when takes
# the FIRST matching arm — _case_when_name builds the same ordered
# chain (name arms, then id arms, all over the ORIGINAL built name).
# The war frame drops its name before the join (:158), so only the
# grades-side application is observable.
PFF_NAME_FIX = {"G.Minshew": "G.Minshew II"}


def _initial_dot_last(full_name_col: str):
    """separate(player, c('f','l'), sep=' ') + glue('{substr(f,1,1)}.{l}')
    (R/epa_predict.R:66-68, :116-118): suffix tokens beyond the second
    are dropped (separate's extra="warn"), and a MISSING piece renders
    as the literal string "NA" — glue and paste0 both coerce NA to
    "NA", so a single-token name becomes "C.NA" and a NULL source
    name "NA.NA"; these frames never emit a NULL name key in R (r9
    fix: concat previously nulled the whole name — which would have
    NA-matched the base frame's genuinely-NULL first(name) keys under
    the dplyr join semantics, a match R never makes)."""
    parts = F.split(F.col(full_name_col), " ")
    return F.concat(
        F.coalesce(F.substring(parts.getItem(0), 1, 1), F.lit("NA")),
        F.lit("."),
        F.coalesce(parts.getItem(1), F.lit("NA")),
    )


def _case_when_name(
    built,
    name_fixes: dict,
    id_fixes: dict | None = None,
    id_col: str | None = None,
):
    """R's repair case_when as ONE ordered first-match-wins
    expression: name arms first, then id arms, every condition over
    the ORIGINAL built name (case_when never re-scans an arm's
    output) — shared by the sis, pff, and qbr legs (the qbr table is
    name-keyed only)."""
    repaired = None
    for bad, good in name_fixes.items():
        arm = (built == bad, F.lit(good))
        repaired = F.when(*arm) if repaired is None else repaired.when(*arm)
    for pid, good in (id_fixes or {}).items():
        arm = (F.col(id_col) == pid, F.lit(good))
        repaired = F.when(*arm) if repaired is None else repaired.when(*arm)
    return built if repaired is None else repaired.otherwise(built)


def clean_sis(sis: DataFrame, min_season: int = 2016) -> DataFrame:
    """SIS leaderboard leg (R/epa_predict.R:65-86): separate the full
    player_name, build the initial.last join key, keep seasons inside
    SIS coverage (``filter(season >= 2016)``, :72 — r9 fix: was
    previously declared caller-side; it is part of the frame), repair
    known variants (name arm FIRST, :73-77), and lag total_points /
    total-points-per-play BY sis_id over the FILTERED frame
    (source-side lags — the reference lags after the season filter)."""
    w = Window.partitionBy("sis_id").orderBy("season")
    built = _initial_dot_last("player_name")
    out = (
        sis.select(
            built.alias("_built"),
            F.col("player_id").alias("sis_id"),
            "season",
            "total_points",
            F.col("total_points_per_play").alias("tpp"),
            "iqr",
        )
        .filter(F.col("season") >= min_season)
        .withColumn(
            "name",
            _case_when_name(
                F.col("_built"), SIS_NAME_FIX, SIS_ID_NAME_FIX, "sis_id"
            ),
        )
        .drop("_built")
    )
    return out.withColumn(
        "lag_total_points_src", F.lag("total_points", 1).over(w)
    ).withColumn("lag_tpp_src", F.lag("tpp", 1).over(w))


def pff_combined(grades: DataFrame, war: DataFrame) -> DataFrame:
    """PFF grades + WAR combine (R/epa_predict.R:115-168): name build
    + id repair on the grades side, snaps>0 / non-null WAR filter on
    the WAR side (which then drops its name and joins BY pff_id), and
    source-side lags by pff_id."""
    wg = Window.partitionBy("pff_id").orderBy("season")
    built = _initial_dot_last("player")
    # R case_when (:120-126): name arms FIRST, then the id arm —
    # first match wins over the ORIGINAL built name (review fix,
    # shared with the sis leg via _case_when_name)
    g = grades.select(
        _case_when_name(
            built, PFF_NAME_FIX, PFF_ID_NAME_FIX, "player_id"
        ).alias("name"),
        F.col("player_id").alias("pff_id"),
        F.col("grades_offense").alias("grade"),
        F.col("grades_pass").alias("grade_passing"),
        "season",
    )
    g = g.withColumn("lag_grade", F.lag("grade", 1).over(wg)).withColumn(
        "lag_grade_passing", F.lag("grade_passing", 1).over(wg)
    )
    w_rows = (
        war.filter((F.col("snaps") > 0) & F.col("war").isNotNull())
        .select(
            F.col("player_id").alias("pff_id"),
            "season",
            "war",
        )
        .withColumn(
            "lag_war",
            F.lag("war", 1).over(Window.partitionBy("pff_id").orderBy("season")),
        )
    )
    return g.join(w_rows, ["pff_id", "season"], "left")


def passing_stats(pbp: DataFrame) -> DataFrame:
    """Per-QB-season passing yield (the `ya` block,
    R/epa_predict.R:176-190): completed/incomplete/intercepted pass
    plays only; AY/A = (yards + 20*td - 45*int) / attempts; TD/INT
    NULL when ints == 0 (R's ifelse(ints==0, NA, tdint)). Carries
    ``name = first(name)`` (:180, play order made explicit) because
    the reference joins ya BY name too (:215) — see build_panel.

    ya slices from ``all_data``, whose LOAD filter (:172) is
    ``season_type == "REG", !is.na(epa), rush == 1 | pass == 1`` —
    applied here so playoff and epa-null pass attempts never reach
    the yield aggregates (r8 fix: previously omitted, inflating
    ya/aya for any QB with postseason attempts)."""
    sel = pbp.filter(
        (F.col("season_type") == "REG")
        & F.col("epa").isNotNull()
        & ((F.col("rush") == 1) | (F.col("pass") == 1))
        & (F.col("play_type") == "pass")
        & (
            (F.col("incomplete_pass") == 1)
            | (F.col("complete_pass") == 1)
            | (F.col("interception") == 1)
        )
    )
    agg = sel.groupBy("id", "season").agg(
        r_first(["game_id", "play_id"], "name")["name"].alias("name"),
        # STRICT sums (R defaults, :181-183): a single NA
        # yards_gained / interception / pass_touchdown NAs the whole
        # QB-season count in R (and aya/ya/tdint derived from it);
        # SQL SUM would skip (r9 fix: previously F.sum)
        r_sum("yards_gained").alias("pass_yards"),
        r_sum("interception").cast("bigint").alias("pass_ints"),
        r_sum("pass_touchdown").cast("bigint").alias("pass_att_tds"),
        F.count("*").cast("bigint").alias("attempts"),
    )
    # :178-183 the ya summarize carries the COUNTS into the panel —
    # yards/ints/tds/n are ya-frame columns (pass attempts only; NULL
    # after the left join for a QB-season with no qualifying attempt),
    # NOT qbs-chain aggregates (r8 fix: previously aggregated in
    # qb_seasons over all rush+pass down-filtered plays). tds →
    # pass_tds is a declared rename (PARITY.md).
    return agg.select(
        "id",
        "season",
        "name",
        F.col("pass_yards").alias("yards"),
        F.col("pass_ints").alias("ints"),
        F.col("pass_att_tds").alias("pass_tds"),
        F.col("attempts").alias("n"),
        (
            (
                F.col("pass_yards")
                + 20 * F.col("pass_att_tds")
                - 45 * F.col("pass_ints")
            )
            / F.col("attempts")
        ).alias("aya"),
        (F.col("pass_yards") / F.col("attempts")).alias("ya"),
        F.when(
            F.col("pass_ints") == 0, F.lit(None).cast("double")
        )
        .otherwise(F.col("pass_att_tds") / F.col("pass_ints"))
        .alias("tdint"),
    )


# Reference row gates (R/epa_predict.R:193, 213-214): qb_min = 320
# plays and filter(n_dropbacks > 30). These are qb_seasons' defaults;
# build_panel passes a fixture-scale min_plays instead (declared
# deviation — see PARITY.md) because the synthetic fixture's QB
# seasons top out near ~80 plays.
QB_MIN = 320
QB_MIN_DROPBACKS = 30


def qb_seasons(
    pbp: DataFrame,
    min_plays: int = QB_MIN,
    min_dropbacks: int = QB_MIN_DROPBACKS,
) -> DataFrame:
    """Per-QB-season aggregates (R/epa_predict.R:171-214): dropback/
    rush plays with a non-null down (:196 — drops e.g. 2-pt
    conversion attempts), REG season, epa clamped at -4.5 (:197-200),
    cpoe with na.rm=TRUE vs plays strict (A3 both forms), then the
    reference's two row gates: ``n_dropbacks > min_dropbacks``
    (strict, :213) and ``n_plays >= min_plays`` (:214).
    """
    plays = pbp.filter(
        ((F.col("pass") == 1) | (F.col("rush") == 1))
        & F.col("down").isNotNull()
        & F.col("epa").isNotNull()
        & (F.col("season_type") == "REG")
        & F.col("id").isNotNull()
    ).withColumn("epa_c", clamp("qb_epa", -4.5, 1e9))
    # ordered first (A5): dplyr::first(name/posteam) (:180, :202) — play
    # order made explicit; a mid-season trade makes posteam differ
    # from any min/max pick
    first = r_first(["game_id", "play_id"], "name", "posteam")
    return (
        plays.groupBy("id", "season")
        .agg(
            first["name"].alias("name"),
            first["posteam"].alias("posteam"),
            F.count("*").cast("bigint").alias("n_plays"),
            # STRICT aggregates (R defaults, no na.rm — :205-211):
            # the :196 load filter guarantees the ORIGINAL epa column
            # non-NA, but the summarize runs on `epa = qb_epa` (:198
            # mutate) and qb_epa/pass/success can be NA on epa-non-NA
            # rows — R's mean/sum then return NA for the whole
            # QB-season where SQL AVG/SUM would silently skip (r9
            # fix: previously F.avg/F.sum). Only cpoe opts into
            # na.rm=TRUE (:210).
            r_sum("pass").cast("bigint").alias("n_dropbacks"),
            # reference keeps BOTH means (:207-208): epa_per_play on
            # raw qb_epa, adj_epa on the -4.5-clamped copy; epa_play
            # is the panel's name for the reference's adj_epa
            r_mean("qb_epa").alias("epa_per_play"),
            r_mean("epa_c").alias("epa_play"),
            r_sum("qb_epa").alias("total_epa"),
            # NaN (not NULL) for a QB-season whose every cpoe is NA —
            # R mean(all-NA, na.rm=T) is NaN (same pin as wilson/onoff)
            r_mean_nan("cpoe").alias("cpoe"),
            r_mean("success").alias("success_rate"),
        )
        .filter(
            (F.col("n_dropbacks") > min_dropbacks)
            & (F.col("n_plays") >= min_plays)
        )
    )


def playcaller_mode(
    playcallers: DataFrame,
    extend_season: int | None = None,
    same_pc: tuple[str, ...] = (),
) -> DataFrame:
    """Most-frequent playcaller per team-season then change flag via
    lag (R/epa_predict.R:26-57, W3 + W11).

    ``extend_season``/``same_pc`` reproduce the reference's
    hand-repair for a season MISSING from the source CSV (:38-53):
    every team gets a synthetic ``"new"`` caller row at
    ``extend_season``; teams in the hard-coded ``same_pc`` list then
    take their PREVIOUS caller instead (dplyr's sequential mutate:
    the new_pc lag comparison runs over the ALREADY-REDEFINED
    column, so same_pc teams read new_pc = 0 and the rest 1). The
    reference's frame has no such season by construction — a real
    row at ``extend_season`` would silently duplicate (posteam,
    season) join keys downstream, so the engine raises instead."""
    counts = playcallers.groupBy("season", "posteam", "off_play_caller").agg(
        F.count("*").alias("n")
    )
    mode = top1_per_group(
        counts,
        ["season", "posteam"],
        [F.col("n").desc(), F.col("off_play_caller").asc()],
    )
    if extend_season is not None:
        # one execution of the counts+top1 subtree: the guard count,
        # the synth team list, and the union branch all read the
        # pinned frame (review fix: 3x redundant plan execution)
        mode = mode.localCheckpoint(eager=True)
        clash = mode.filter(F.col("season") == extend_season).count()
        if clash:
            raise ValueError(
                f"playcaller_mode: source already has {clash} rows at "
                f"extend_season={extend_season} — the :38-49 synthesis "
                "would duplicate (posteam, season) keys"
            )
        # R's `unique(pc$posteam)` spans ALL covered seasons — a
        # defunct/relocated team gets a synthetic row too, computed
        # off its last covered caller; faithful, not a bug
        synth = (
            mode.select("posteam")
            .distinct()
            .withColumn("season", F.lit(extend_season))
            .withColumn("off_play_caller", F.lit("new"))
            .withColumn("n", F.lit(None).cast("long"))
        )
        mode = mode.unionByName(synth)
        w0 = Window.partitionBy("posteam").orderBy("season")
        mode = mode.withColumn(
            "off_play_caller",
            F.when(
                F.col("posteam").isin(*same_pc)
                & (F.col("season") == extend_season),
                F.lag("off_play_caller", 1).over(w0),
            ).otherwise(F.col("off_play_caller")),
        ) if same_pc else mode
    w = Window.partitionBy("posteam").orderBy("season")
    neq = F.col("off_play_caller") != F.lag("off_play_caller", 1).over(w)
    return (
        mode.withColumn(
            "new_pc",
            # :56 ifelse(caller != lag(caller), 1, 0): an NA
            # comparison (a team's FIRST covered season — no lag)
            # is NA, so new_pc is NULL there, not 0 (r9 fix; the
            # grid filter arms treat NULL and 0 identically, but the
            # panel COLUMN must read NA like R's)
            F.when(neq.isNull(), F.lit(None).cast("int"))
            .when(neq, 1)
            .otherwise(0),
        )
        # :59 filter(season > 2011) + select(posteam, season, new_pc)
        # — the caller frame drops pre-2012 seasons AND the caller
        # name (r9 fix: both previously omitted; off_play_caller is
        # available from the mode frame for engine-side callers)
        .filter(F.col("season") > 2011)
        .select("season", "posteam", "new_pc")
    )


def build_panel(
    pbp: DataFrame,
    qbr: DataFrame,
    playcallers: DataFrame,
    sis: DataFrame | None = None,
    grades: DataFrame | None = None,
    war: DataFrame | None = None,
    min_plays: int = 50,
    min_dropbacks: int = QB_MIN_DROPBACKS,
    pc_extend_season: int | None = None,
    pc_same_pc: tuple[str, ...] = (),
) -> DataFrame:
    """The chained multi-source join panel (J3: R/epa_predict.R:215-219:
    ya → pff → qbr → sis → new_pc, all left joins onto the QB-season
    base) + derived composites (:221-228 index stand-in, war_per_play)
    + the 13-column lag block by QB ordered by season (W1: :241-261).

    ``sis``/``grades``/``war`` may be omitted (legacy 3-source core);
    the missing legs' columns come out NULL and their lag columns
    NULL — corr over them degrades to n_pairs=0, never an error.

    All non-pbp sources are QB-season grain (≤ thousands of rows at
    any realistic scale) → broadcast, so the only shuffle on this
    path is the pbp aggregation itself.

    ``min_plays`` defaults to 50 — a declared fixture-scale deviation
    from the reference's qb_min = 320 (R/epa_predict.R:193; see
    PARITY.md) because the synthetic fixture's QB seasons never reach
    320 plays; the dropback gate keeps the reference's literal
    ``> 30``.
    """
    base = qb_seasons(pbp, min_plays=min_plays, min_dropbacks=min_dropbacks)
    ya = passing_stats(pbp)
    # The reference's qbr frame (:92-105) carries NO team column:
    # name build + case_when repairs (:95-103), filter(qb_plays > 10)
    # (:104), then select(name, espn_plays = qb_plays,
    # espn_id = player_id, qbr_total, season) (:105)
    # glue renders NA as the literal "NA" (:93) — same coercion as
    # _initial_dot_last: the built qbr name is never NULL in R
    built = F.concat(
        F.coalesce(F.substring("name_first", 1, 1), F.lit("NA")),
        F.lit("."),
        F.coalesce(F.col("name_last"), F.lit("NA")),
    )
    repaired = _case_when_name(built, QBR_NAME_FIX)
    q = (
        qbr.filter(F.col("qb_plays") > 10)
        .select(
            "season",
            repaired.alias("name"),
            F.col("qb_plays").alias("espn_plays"),
            F.col("player_id").alias("espn_id"),
            "qbr_total",
        )
        # :108-111 arrange(espn_id, season) → lag(qbr_total) by
        # espn_id — the SOURCE-side lag_qbr the :238 spot check
        # prints (the :259 lqb mutate later shadows it with the
        # logit lag, our lag_qbr_logit); espn_lag_qbr keeps the
        # pre-shadow value addressable
        .withColumn(
            "espn_lag_qbr",
            F.lag("qbr_total", 1).over(
                Window.partitionBy("espn_id").orderBy("season")
            ),
        )
    )
    # the :38-53 missing-season hand-repair reaches the panel through
    # these pass-throughs (review fix: the params existed only on the
    # standalone playcaller_mode)
    pc = playcaller_mode(
        playcallers, extend_season=pc_extend_season, same_pc=pc_same_pc
    )
    # all five panel joins use dplyr semantics (r_join): dplyr's
    # DEFAULT na_matches="na" makes NA keys MATCH — live here because
    # every name key is BUILT (first() over plays / concat / separate)
    # and so can be NA on both sides, which R matches and a plain SQL
    # equi-join silently drops (r9 NA-join-key audit, PARITY.md)
    panel = (
        # :215 left_join(ya, by = c("id", "name", "season")) — name IS
        # part of the reference's key: a QB whose ordered-first name
        # differs between the all-plays and pass-plays frames gets
        # NULL ya columns, exactly as R would
        r_join(base, ya, ["id", "name", "season"], "left")
    )
    # :217 left_join(qbr, by = c("name", "season")) — NOT by team:
    # a QB traded after week 1 (first(posteam) ≠ the QBR listing's
    # team) still matches, exactly as R
    panel = r_join(panel, F.broadcast(q), ["name", "season"], "left")
    panel = r_join(panel, F.broadcast(pc), ["season", "posteam"], "left")
    null_d = F.lit(None).cast("double")
    if sis is not None:
        s = clean_sis(sis).select(
            "name", "season", "total_points", "tpp", "iqr"
        )
        panel = r_join(panel, F.broadcast(s), ["name", "season"], "left")
    else:
        panel = (
            panel.withColumn("total_points", null_d)
            .withColumn("tpp", null_d)
            .withColumn("iqr", null_d)
        )
    if grades is not None and war is not None:
        p = pff_combined(grades, war).select(
            "name", "season", "grade", "grade_passing", "war",
            "lag_grade", "lag_grade_passing", "lag_war",
        )
        panel = r_join(panel, F.broadcast(p), ["name", "season"], "left")
    else:
        for c in ("grade", "grade_passing", "war",
                  "lag_grade", "lag_grade_passing", "lag_war"):
            panel = panel.withColumn(c, null_d)
    # composites (R/epa_predict.R:221-228): war normalized per play and
    # the CPOE+EPA index (deterministic add_dakota stand-in — a fixed
    # linear blend, NOT nflfastR's fitted GAM; SURVEY §7 hard-part 5)
    panel = panel.withColumn(
        "war_per_play", F.col("war") / F.col("n_plays")
    ).withColumn("index", 0.5 * F.col("epa_play") + 0.02 * F.col("cpoe"))
    # the reference's qbr logit rescale (:224-226): qbr_total/100
    # through log(p/(1-p)) — kept as a separate column so the raw
    # qbr_total (and its lag) stay available
    qbr_p = F.col("qbr_total") / 100.0
    panel = panel.withColumn("qbr_logit", F.log(qbr_p / (1.0 - qbr_p)))
    w = Window.partitionBy("id").orderBy("season")
    for c in LAG_METRICS:
        panel = panel.withColumn(f"lag_{c}", F.lag(c, 1).over(w))
    return panel


def qbr_audit(panel: DataFrame) -> DataFrame:
    """Join-integrity audit (P10: R/epa_predict.R:229-238) — QB-seasons
    that failed to match a QBR row. Non-empty is expected on the
    fixture (one season deliberately missing)."""
    return panel.filter(F.col("qbr_total").isNull()).select(
        "season", "posteam", "name", "n_plays"
    )


def sis_audit(panel: DataFrame, min_season: int) -> DataFrame:
    """Second join audit (R/epa_predict.R:233-234:
    `filter(is.na(total_points), season > 2016)`) — QB-seasons with no
    SIS match inside SIS's coverage window."""
    return panel.filter(
        F.col("total_points").isNull() & (F.col("season") > min_season)
    ).select("season", "posteam", "name", "n_plays")


def qb_spot_check(panel: DataFrame, name: str = "R.Wilson") -> DataFrame:
    """The known-entity projection (R/epa_predict.R:236-238:
    ``filter(name == "R.Wilson") %>% select(...)``) — one QB's
    joined row set for eyeballing join health. Column mapping at
    that point in the reference chain: ``qbr`` is already the logit
    (:224-226 ran) and ``lag_qbr`` is still the SOURCE espn-id lag
    (:108-111 — the :259 lqb shadowing hasn't run), so the select
    maps to qbr_logit / espn_lag_qbr here."""
    return panel.filter(F.col("name") == name).select(
        "name",
        "season",
        "posteam",
        "new_pc",
        "n_plays",
        "espn_plays",
        "epa_per_play",
        "total_points",
        F.col("qbr_logit").alias("qbr"),
        F.col("espn_lag_qbr").alias("lag_qbr"),
        "cpoe",
        "grade",
        "lag_grade",
        "war",
    )


def _nan_to_null(c):
    """R's cor returns NA (not NaN) for a zero-variance series —
    Spark's corr yields 0/0 = NaN there; isnan(NULL) is false, so a
    NULL corr (n_pairs < 2) passes through untouched. The <2-pairs
    edge itself is also NULL: R's cor with exactly one complete pair
    is NA (sd of a length-1 vector is NA), and Spark's corr with one
    pair is 0/0 = NaN → mapped here; with zero pairs Spark yields
    NULL directly (R errors on zero complete pairs — a table cell
    can't error, so NULL is the declared substitute; PARITY.md)."""
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def _complete_obs(panel: DataFrame, col: str):
    """R cor(use="complete.obs") treats NaN as NA and DROPS the row
    (is.na(NaN) is TRUE); Spark's corr would propagate NaN instead —
    NaN-carrying columns (cpoe / index after the all-NA pin) must be
    nulled before the corr. String columns (posteam) pass through."""
    c = F.col(col)
    if dict(panel.dtypes).get(col) == "double":
        return F.when(F.isnan(c), F.lit(None)).otherwise(c)
    return c


def _corr_operand(panel: DataFrame, col: str):
    """The complete.obs column coerced for F.corr: a string metric
    (the lteam/lag_posteam rows of the generalized grid) becomes an
    explicit try_cast so the corr is NULL under BOTH ANSI modes —
    the implicit cast Spark would insert raises under
    spark.sql.ansi.enabled=true. Pair counts stay on the raw column
    (non-null strings are countable pairs; they're just not
    correlatable)."""
    if dict(panel.dtypes).get(col) == "string":
        return F.expr(f"try_cast({col} AS double)")
    return _complete_obs(panel, col)


def lqb_frame(panel: DataFrame) -> DataFrame:
    """The reference's lag frame: ``lqb <- qbs %>% ... %>%
    filter(!is.na(lepa))`` (R/epa_predict.R:241-263) — every grid,
    figure frame, and downstream filter chain reads lqb AFTER this
    drop, never the raw panel.

    The filter is LIVE (do not move grids off this frame), two ways:
    SOURCE-side lag columns — ``lag_grade``/``lag_grade_passing``/
    ``lag_war`` are lagged by pff_id on the PFF frames before the
    join (:130-135,152-156), so a QB's first panel season after a
    graded-but-under-gate season carries a non-null lag_grade on a
    null-lepa row — and, since the r9 strict-aggregate fix, PANEL
    lags too: a strict-mean NA season makes epa_per_play itself
    null, so a later row can have non-null lag_success_rate with
    NULL lag_epa_per_play (test_qb_seasons_strict_aggregates plants
    exactly this row). R drops both from every grid cell."""
    return panel.filter(F.col("lag_epa_per_play").isNotNull())


# The reference's metric × lag grid rows (R/epa_predict.R:270-292):
# (table label, current column, lag column). lag columns mix panel
# lags (the :241-261 lqb mutate) with SOURCE-side lags (the PFF
# frame's lag_grade/lag_grade_passing/lag_war by pff_id); the QBR row
# correlates the LOGIT and its panel lag (:224-226 redefinition runs
# before the :259 lag). The grid's `epa` column target is the RAW
# epa_per_play (:244 `epa = epa_per_play`, :207), not the clamp.
GRID_ROWS: list[tuple[str, str, str]] = [
    ("TD/INT ratio", "tdint", "lag_tdint"),
    ("PFF Offense grade", "grade", "lag_grade"),
    ("PFF Passing grade", "grade_passing", "lag_grade_passing"),
    ("PFF WAR", "war", "lag_war"),
    ("PFF WAR per play", "war_per_play", "lag_war_per_play"),
    ("Total Points per play (SIS)", "tpp", "lag_tpp"),
    ("Total Points (SIS)", "total_points", "lag_total_points"),
    ("QBR (ESPN)", "qbr_logit", "lag_qbr_logit"),
    ("CPOE", "cpoe", "lag_cpoe"),
    ("CPOE + EPA index", "index", "lag_index"),
    ("EPA per play", "epa_per_play", "lag_epa_per_play"),
    ("Adj. EPA per play", "epa_play", "lag_epa_play"),
    ("Total EPA", "total_epa", "lag_total_epa"),
    ("AY/A", "aya", "lag_aya"),
]

# The switchers / new-playcaller variants keep 10 of the 14 rows
# (:437-455, :525-543 — the volume and passing-grade rows never
# appear in t2).
SWITCHER_GRID_LABELS = [
    "TD/INT ratio",
    "PFF Offense grade",
    "PFF WAR per play",
    "Total Points per play (SIS)",
    "QBR (ESPN)",
    "CPOE",
    "CPOE + EPA index",
    "EPA per play",
    "Adj. EPA per play",
    "AY/A",
]

# :297-306 — rows dropped from the main t before the gt render
# ("volume stats were just for curiosity and DVOA isn't comparable").
GRID_TABLE_DROP = [
    "Total EPA",
    "PFF Passing grade",
    "PFF WAR",
    "Total Points (SIS)",
]


def _corr_grid(frame: DataFrame, rows: list[tuple[str, str, str]]) -> DataFrame:
    """The Stability/epa correlation grid over an lqb-style frame —
    ONE aggregation computes every cell (a single scan + partial agg,
    no per-metric job), then a driver-side stack lays the 1-row
    result out long. complete.obs semantics per cell: NaN-carrying
    doubles nulled before corr, zero-variance / <2-pair cells NULL."""
    epa = _complete_obs(frame, "epa_per_play")
    aggs = []
    for i, (_, cur_c, lag_c) in enumerate(rows):
        cur = _complete_obs(frame, cur_c)
        lag = _complete_obs(frame, lag_c)
        cur_x = _corr_operand(frame, cur_c)
        lag_x = _corr_operand(frame, lag_c)
        aggs += [
            _nan_to_null(F.corr(cur_x, lag_x)).alias(f"_s{i}"),
            _nan_to_null(F.corr(epa, lag_x)).alias(f"_e{i}"),
            F.count(F.when(cur.isNotNull() & lag.isNotNull(), 1))
            .cast("bigint")
            .alias(f"_ns{i}"),
            F.count(F.when(epa.isNotNull() & lag.isNotNull(), 1))
            .cast("bigint")
            .alias(f"_ne{i}"),
        ]
    cells = ", ".join(
        f"'{label}', _s{i}, _e{i}, _ns{i}, _ne{i}"
        for i, (label, _, _) in enumerate(rows)
    )
    return frame.agg(*aggs).selectExpr(
        f"stack({len(rows)}, {cells})"
        " as (metric, stability, epa, n_stability, n_epa)"
    )


def reference_grid(panel: DataFrame, table: bool = False) -> DataFrame:
    """The main QB-measurement comparison grid (A11:
    R/epa_predict.R:270-292): one row per measure with its
    year-to-year stability correlation and its correlation with
    next year's RAW epa_per_play, computed on the lqb frame
    (post-``filter(!is.na(lepa))``, :261-263). ``table=True``
    applies the :297-306 volume-row drop + the gt arrange(-epa)."""
    out = _corr_grid(lqb_frame(panel), GRID_ROWS)
    if table:
        out = out.filter(~F.col("metric").isin(GRID_TABLE_DROP)).orderBy(
            F.desc("epa")
        )
    return out


def switchers_frame(panel: DataFrame) -> DataFrame:
    """QBs who changed teams (R/epa_predict.R:430-434: ``lqb %>%
    filter(posteam != lag_posteam)``) — the reference REASSIGNS lqb
    here, so the new-playcaller chain below starts from THIS frame.
    NULL lag_posteam rows drop in both engines (R: NA comparison is
    NA → filtered; Spark: null predicate → filtered)."""
    return lqb_frame(panel).filter(
        F.col("posteam") != F.col("lag_posteam")
    )


def switchers_grid(panel: DataFrame) -> DataFrame:
    """The team-switchers grid (R/epa_predict.R:437-455): the 10-row
    t2 over the switchers frame."""
    rows = [r for r in GRID_ROWS if r[0] in SWITCHER_GRID_LABELS]
    return _corr_grid(switchers_frame(panel), rows)


def new_playcaller_frame(panel: DataFrame, min_season: int = 2012) -> DataFrame:
    """QBs with a new playcaller OR a new team
    (R/epa_predict.R:513-522) — faithfully chained from the
    ALREADY-FILTERED switchers frame (the :430 lqb reassignment is
    live at :515, a shadowing chain like espn_wp's :221): within
    group_by(id), ``dplyr::lag(posteam)`` here is a FRESH lag over
    the SWITCHERS-FILTERED rows in frame order (= season order),
    NOT the panel's lag_posteam column. First-in-group rows (NULL
    fresh lag) drop in both engines: R's ``(new_pc == 1 & NA) | NA``
    is NA/FALSE, never TRUE; Spark's three-valued logic matches arm
    for arm. ``!is.na(lepa)`` is re-applied (:521 — redundant after
    :263, kept for parity) and ``season >= 2012`` (:522)."""
    w = Window.partitionBy("id").orderBy("season")
    s = switchers_frame(panel).withColumn(
        "_sw_lag_posteam", F.lag("posteam", 1).over(w)
    )
    keep = (
        (F.col("new_pc") == 1)
        & (F.col("posteam") == F.col("_sw_lag_posteam"))
    ) | (F.col("posteam") != F.col("_sw_lag_posteam"))
    return (
        s.filter(
            keep
            & F.col("lag_epa_per_play").isNotNull()
            & (F.col("season") >= min_season)
        ).drop("_sw_lag_posteam")
    )


def new_playcaller_grid(panel: DataFrame, min_season: int = 2012) -> DataFrame:
    """The new-playcaller grid (R/epa_predict.R:525-543): the same
    10 t2 rows over the playcaller-change frame."""
    rows = [r for r in GRID_ROWS if r[0] in SWITCHER_GRID_LABELS]
    return _corr_grid(new_playcaller_frame(panel, min_season), rows)


def recent_switchers(
    panel: DataFrame,
    min_season: int = 2019,
    after_playcaller_filter: bool = False,
) -> DataFrame:
    """The "see list of recent switchers" projections
    (R/epa_predict.R:505-509 off the SWITCHERS frame;
    :593-598 the same select at season >= 2021 off the
    NEW-PLAYCALLER frame — each print reads whichever lqb
    reassignment is live at that point in the script)."""
    frame = (
        new_playcaller_frame(panel)
        if after_playcaller_filter
        else switchers_frame(panel)
    )
    return (
        frame.filter(F.col("season") >= min_season)
        .orderBy("season", "id")
        .select("name", "season", "posteam", "lag_posteam")
    )


def per_season_cross_corrs(panel: DataFrame) -> DataFrame:
    """The stability-over-time figure's data frame (S11 substitute:
    R/epa_predict.R:361-371, frame ``a``): per-season correlation of
    epa_per_play with six lagged measures, on lqb filtered
    ``season > 2006``. One grouped aggregation (seasons are the
    groups — dozens of rows at any scale)."""
    lqb = lqb_frame(panel).filter(F.col("season") > 2006)
    epa = _corr_operand(lqb, "epa_per_play")

    def cell(lag_c: str, alias: str):
        return _nan_to_null(F.corr(epa, _corr_operand(lqb, lag_c))).alias(alias)

    return lqb.groupBy("season").agg(
        cell("lag_epa_per_play", "c_epa"),
        cell("lag_qbr_logit", "c_qbr"),
        cell("lag_index", "c_index"),
        cell("lag_cpoe", "c_cpoe"),
        cell("lag_grade", "c_pff"),
        cell("lag_war_per_play", "c_war"),
    )


def per_season_tpp_corr(panel: DataFrame, min_season: int = 2017) -> DataFrame:
    """The figure's SIS companion frame (R/epa_predict.R:373-376,
    frame ``b``): per-season cor(epa_per_play, ltpp) from min_season
    on (SIS coverage starts later than the panel)."""
    lqb = lqb_frame(panel).filter(F.col("season") >= min_season)
    epa = _corr_operand(lqb, "epa_per_play")
    return lqb.groupBy("season").agg(
        _nan_to_null(F.corr(epa, _corr_operand(lqb, "lag_tpp"))).alias("c_tpp")
    )


def stability_corrs(panel: DataFrame) -> DataFrame:
    """Year-over-year stability correlation table (A11:
    R/epa_predict.R:270-292 — the full metric × lag grid, the
    reference's 26-cell table generalized): one long row per metric
    with its self-lag correlation and pairwise-complete n
    (complete.obs: NaN rows dropped, exactly as R's cor). Runs on
    the lqb frame (:261-263) like every reference grid — the filter
    is live even for panel-side lags once a strict-mean NA season
    nulls epa_per_play (see lqb_frame). Single aggregation: all 17
    metrics' cells in one scan, stacked long."""
    frame = lqb_frame(panel)
    aggs = []
    for i, c in enumerate(LAG_METRICS):
        cur = _complete_obs(frame, c)
        lag = _complete_obs(frame, f"lag_{c}")
        aggs += [
            _nan_to_null(
                F.corr(_corr_operand(frame, c), _corr_operand(frame, f"lag_{c}"))
            ).alias(f"_c{i}"),
            F.count(F.when(cur.isNotNull() & lag.isNotNull(), 1))
            .cast("bigint")
            .alias(f"_n{i}"),
        ]
    cells = ", ".join(
        f"'{c}', _c{i}, _n{i}" for i, c in enumerate(LAG_METRICS)
    )
    return frame.agg(*aggs).selectExpr(
        f"stack({len(LAG_METRICS)}, {cells}) as (metric, yoy_corr, n_pairs)"
    )


def cross_corrs(panel: DataFrame, target: str = "epa_per_play") -> DataFrame:
    """Which of LAST season's metrics predicts THIS season's target —
    the predictive half of the reference's grid
    (R/epa_predict.R:270-292 columns vs next-year epa). The default
    target is the RAW epa_per_play: the grid's `epa` is assigned
    ``epa = epa_per_play`` at :244 (the unclamped :207 mean), NOT
    the clamped adj_epa/epa_play. Runs on the lqb frame (:261-263);
    complete.obs semantics like stability_corrs."""
    frame = lqb_frame(panel)
    t = _corr_operand(frame, target)
    return frame.agg(
        *[
            _nan_to_null(
                F.corr(t, _corr_operand(frame, f"lag_{c}"))
            ).alias(f"cor_{c}")
            for c in LAG_METRICS
        ]
    )


def grid_subtitle_n(frame: DataFrame) -> DataFrame:
    """The switchers / new-playcaller gt subtitles' QB-season count
    (R/epa_predict.R:470, :560): ``{lqb %>% filter(!is.na(lag_grade))
    %>% nrow()}`` — the number of panel rows with a prior PFF-graded
    season, computed off whichever filtered lqb frame is live at that
    point (pass ``switchers_frame(panel)`` or
    ``new_playcaller_frame(panel)``). Returned as a 1-row frame so
    the scalar stays engine-side."""
    return frame.filter(F.col("lag_grade").isNotNull()).agg(
        F.count("*").cast("bigint").alias("n_qb_seasons")
    )
