"""Domain golden tests (SURVEY.md §5.2 item 2): each reference
pipeline reproduction runs on the deterministic NFL fixtures and is
checked against an independent pandas recomputation of the same
semantics (the 'golden'), plus the reference's own audit invariants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.fixtures import QBS, TEAMS, build_all, spark_fixtures
from nfl_data_pipeline_spark.plans import (
    draft_odds,
    epa_panel,
    espn_wp_calibration,
    let_russ_cook,
    onoff,
    ol_projection,
    pass_block,
    pass_rate_oe,
    qb_starters,
    wilson,
)


@pytest.fixture(scope="module")
def nfl(spark):
    return spark_fixtures(spark)


@pytest.fixture(scope="module")
def nfl_pd():
    return build_all()


# ---------------------------------------------------------------------------
# let_russ_cook — team pass rates
# ---------------------------------------------------------------------------


def test_team_pass_rates_golden(nfl, nfl_pd):
    got = {
        r["posteam"]: (r["pass_rate"], r["n_plays"])
        for r in let_russ_cook.team_pass_rates(nfl["cleaned_pbp"]).collect()
    }
    pbp = nfl_pd["cleaned_pbp"]
    want = (
        pbp[
            pbp["down"].isin([1, 2])
            & pbp["wp"].between(0.2, 0.8)
            & (pbp["half_seconds_remaining"] > 120)
            & pbp["epa"].notna()
            & pbp["posteam"].notna()
        ]
        .groupby("posteam")["pass"]
        .agg(["mean", "size"])
    )
    assert set(got) == set(want.index)
    for team, row in want.iterrows():
        assert got[team][0] == pytest.approx(row["mean"])
        assert got[team][1] == row["size"]
    # gauge spans exactly 0..100
    gauges = [
        r["gauge"]
        for r in let_russ_cook.team_pass_rates(nfl["cleaned_pbp"]).collect()
    ]
    assert min(gauges) == 0.0 and max(gauges) == pytest.approx(100.0)


# ---------------------------------------------------------------------------
# wilson — grouped cumsum flag
# ---------------------------------------------------------------------------


def _wilson_normal_plays(pbp, team):
    """R/wilson_game_pass_freq.R:20-21 filter + the TWO-SIDED
    under_wp band (:26) and cumsum flag (:29), in pandas."""
    sea = (
        pbp[
            (pbp["posteam"] == team)
            & pbp["down"].notna()
            & ((pbp["rush"] == 1) | (pbp["pass"] == 1))
        ]
        .sort_values(["game_id", "play_id"])
        .copy()
    )
    under = (~sea["wp"].between(0.10, 0.90)).astype(int)
    sea["game_over"] = (
        under.groupby(sea["game_id"]).cumsum() > 0
    ).astype(int)
    return sea


def test_game_over_flag_golden(nfl, nfl_pd):
    team = "SEA"
    got = (
        wilson.with_game_over_flag(nfl["cleaned_pbp"], team)
        .select("game_id", "play_id", "game_over")
        .toPandas()
        .sort_values(["game_id", "play_id"])
        .reset_index(drop=True)
    )
    sea = _wilson_normal_plays(nfl_pd["cleaned_pbp"], team)
    want = sea[["game_id", "play_id", "game_over"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # the band is two-sided: winning blowouts (wp > .90) trip it too
    assert (sea.loc[sea["wp"] > 0.90, "game_over"] == 1).all()


def test_wilson_chart_frame_golden(nfl, nfl_pd):
    """Chart-frame mutate (R/wilson_game_pass_freq.R:48-62):
    home/playoff labels, the glue label with the game-id season
    suffix, the 4-way era case_when, and the text-repel selection
    flag — recomputed in pandas."""
    team = "SEA"
    got = (
        wilson.chart_frame(wilson.per_game_summary(nfl["cleaned_pbp"], team))
        .toPandas()
        .sort_values("game_id")
        .reset_index(drop=True)
    )
    for _, r in got.iterrows():
        want_home = "" if r["home"] == 1 else "@"
        want_po = "*" if r["week"] > 17 else ""
        assert r["home_lbl"] == want_home
        assert r["playoff_lbl"] == want_po
        assert r["label"] == (
            want_home + r["defteam"] + r["game_id"][2:4] + want_po
        )
        if r["season"] < 2020:
            want_era = 1
        elif r["season"] == 2020 and r["defteam"] == "LA":
            want_era = 2
        elif r["season"] == 2020 and r["week"] <= 9:
            want_era = 3
        else:
            want_era = 4
        assert r["era"] == want_era
        want_lbl = int(
            r["pass"] < 0.35
            or r["pass"] > 0.65
            or r["wilson_epa"] > 0.8
            or r["wilson_epa"] < -0.25
            or want_era > 1
        )
        assert r["labeled"] == want_lbl
    # both label branches exercised by the fixture
    assert set(got["home_lbl"]) == {"", "@"}


def test_per_game_summary_golden(nfl, nfl_pd):
    """Full reference summarise block (R/wilson_game_pass_freq.R:38-46)
    recomputed in pandas from the reference formula."""
    team = "SEA"
    s = (
        wilson.per_game_summary(nfl["cleaned_pbp"], team)
        .toPandas()
        .sort_values("game_id")
        .reset_index(drop=True)
    )
    sea = _wilson_normal_plays(nfl_pd["cleaned_pbp"], team)
    alive = sea[(sea["game_over"] == 0) & (sea["down"] <= 2)].copy()
    alive["wilson_epa"] = np.where(
        alive["name"] == "R.Wilson", alive["qb_epa"], np.nan
    )
    alive["home"] = (alive["home_team"] == team).astype(int)
    want = (
        alive.groupby("game_id", as_index=False)
        .agg(
            **{
                "pass": ("pass", "mean"),
                "season": ("season", "first"),
                "week": ("week", "first"),
                "wilson_epa": ("wilson_epa", "mean"),
                "defteam": ("defteam", "first"),
                "home": ("home", "first"),
            }
        )
        .sort_values("game_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        s[want.columns.tolist()], want, check_dtype=False
    )


# ---------------------------------------------------------------------------
# espn_wp — calibration + logloss
# ---------------------------------------------------------------------------


def test_espn_wp_alignment_and_calibration(nfl, nfl_pd):
    aligned = espn_wp_calibration.aligned_espn_wp(nfl["espn_wp"], nfl["games"])
    adf = aligned.toPandas()
    # W5: exactly one dropped row per (espn) game present in both
    games = nfl_pd["games"]
    playable = games[
        games["result"].notna() & (games["result"] != 0) & (games["week"] <= 17)
    ]
    wp = nfl_pd["espn_wp"]
    per_game = wp[wp["espn_game_id"].isin(playable["espn"])].groupby(
        "espn_game_id"
    )["play_id"]
    assert len(adf) == int((per_game.count() - 1).sum())
    # lag alignment: first surviving row's espn_home_wp equals the
    # game's first sample value
    g0 = sorted(adf["espn_game_id"])[0]
    first_raw = (
        wp[wp["espn_game_id"] == g0]
        .assign(pid=lambda d: d["play_id"].astype(float))
        .sort_values("pid")
        .iloc[0]["home_wp"]
    )
    got_first = adf[adf["espn_game_id"] == g0].sort_values("play_id_num").iloc[0][
        "espn_home_wp"
    ]
    assert got_first == pytest.approx(first_raw)

    scored = espn_wp_calibration.with_vegas_wp(aligned, nfl["cleaned_pbp"])
    calib = espn_wp_calibration.calibration_table(scored, "espn_home_wp").toPandas()
    assert (calib["n"] >= calib["n_wins"]).all()
    assert calib["bin"].between(0, 1).all()
    # reference bins at width 0.01 (R/espn_wp.R:89) — the default must
    # produce 0.01-granular bins, not the old 0.05 demo width
    assert (
        np.abs(calib["bin"] * 100 - np.round(calib["bin"] * 100)) < 1e-9
    ).all()
    assert calib["bin"].nunique() > 21, "bins coarser than 0.01 width"

    ll = espn_wp_calibration.logloss_by_quarter(scored).toPandas()
    assert (ll["logloss_espn"] > 0).all() and (ll["logloss_vegas"] > 0).all()
    assert set(ll["qtr"]) <= {1, 2, 3, 4}


def _pd_logloss(y, p, eps=1e-9):
    p = np.clip(p, eps, 1 - eps)
    return float(np.mean(-(y * np.log(p) + (1 - y) * np.log(1 - p))))


def test_espn_wp_logloss_table_golden(nfl, nfl_pd):
    """The reference's 4-row summary tab (R/espn_wp.R:244-289) —
    model × {down<=4, down==1} with all/q1..q4 columns — and the
    plays1 first-play metric (:233-237), each recomputed in pandas
    from the reference slice definitions."""
    aligned = espn_wp_calibration.aligned_espn_wp(nfl["espn_wp"], nfl["games"])
    scored = espn_wp_calibration.with_vegas_wp(aligned, nfl["cleaned_pbp"])
    sp = scored.toPandas()
    plays = sp[
        sp["espn_home_wp"].notna()
        & sp["vegas_home_wp"].notna()
        & (sp["qtr"] <= 4)
        & sp["down"].notna()  # R/espn_wp.R:77 — shared plays filter
    ]

    tab = {
        (r["model"], r["type"]): r
        for r in espn_wp_calibration.logloss_table(scored).collect()
    }
    assert len(tab) == 4
    for type_lbl, down_mask in (
        ("All downs: log loss", plays["down"] <= 4),
        ("1st downs: log loss", plays["down"] == 1),
    ):
        sub = plays[down_mask]
        for model, col in (("ESPN", "espn_home_wp"), ("nflfastR", "vegas_home_wp")):
            row = tab[(model, type_lbl)]
            want_all = _pd_logloss(sub["home_win"].to_numpy(), sub[col].to_numpy())
            assert row["all"] == pytest.approx(want_all, rel=1e-9)
            for q in (1, 2, 3, 4):
                qs = sub[sub["qtr"] == q]
                if len(qs):
                    want_q = _pd_logloss(
                        qs["home_win"].to_numpy(), qs[col].to_numpy()
                    )
                    assert row[f"q{q}"] == pytest.approx(want_q, rel=1e-9)

    fp = espn_wp_calibration.first_play_logloss(scored).collect()[0]
    # R/espn_wp.R:221-229 — plays1 slices from the 2020-block frame,
    # which has NO !is.na(down) condition (unlike the :77 plot frame)
    plays1_frame = sp[
        sp["espn_home_wp"].notna()
        & sp["vegas_home_wp"].notna()
        & (sp["qtr"] <= 4)
    ]
    firsts = plays1_frame.sort_values(["game_id", "play_id_num"]).groupby(
        "game_id", as_index=False
    ).first()
    assert fp["n_games"] == len(firsts)
    assert fp["logloss_espn"] == pytest.approx(
        _pd_logloss(firsts["home_win"].to_numpy(), firsts["espn_home_wp"].to_numpy()),
        rel=1e-9,
    )
    assert fp["logloss_vegas"] == pytest.approx(
        _pd_logloss(firsts["home_win"].to_numpy(), firsts["vegas_home_wp"].to_numpy()),
        rel=1e-9,
    )


def test_first_play_logloss_scores_null_down_first_row(spark):
    """R/espn_wp.R:221-233: the 2020-block ``plays`` frame (which
    ``plays1`` slices from) filters only on both WPs non-null and
    ``qtr <= 4`` — a null-down first row (e.g. a kickoff) IS the
    scored play. (The :77 frame with ``!is.na(down)`` is shadowed by
    the :221-229 reassignment and feeds only the calibration plots.)"""
    rows = [
        # game A: first row null down -> still the slice(1) row
        ("A", 1.0, 0.9, 0.9, 1, None, 1),
        ("A", 2.0, 0.6, 0.6, 1, 1, 1),
        # game B: clean first row
        ("B", 1.0, 0.5, 0.5, 1, 1, 0),
    ]
    scored = spark.createDataFrame(
        rows,
        "game_id string, play_id_num double, espn_home_wp double, "
        "vegas_home_wp double, qtr int, down int, home_win int",
    )
    got = espn_wp_calibration.first_play_logloss(scored).collect()[0]
    assert got["n_games"] == 2
    # slice picked wp=0.9 for game A (the null-down row IS scored)
    want = _pd_logloss(np.array([1, 0]), np.array([0.9, 0.5]))
    assert got["logloss_espn"] == pytest.approx(want, rel=1e-9)
    assert got["logloss_vegas"] == pytest.approx(want, rel=1e-9)


# ---------------------------------------------------------------------------
# onoff — membership splits
# ---------------------------------------------------------------------------


def test_on_off_split_golden(nfl, nfl_pd):
    name, gsis = QBS["SEA"]
    got = {
        (r["on_field"], r["play_kind"]): r["n"]
        for r in onoff.on_off_summary(nfl["participation"], gsis, "SEA").collect()
    }
    part = nfl_pd["participation"]
    # R/on_off_nflreadr.R:7 — base frame filter(!is.na(down), !is.na(posteam))
    sea = part[
        (part["posteam"] == "SEA")
        & part["down"].notna()
        & part["epa"].notna()
    ].copy()
    # :31-32 — membership over EITHER offense_players or defense_players
    sea["on"] = [
        gsis in o.split(";") or gsis in d.split(";")
        for o, d in zip(sea["offense_players"], sea["defense_players"])
    ]
    want = (
        sea.assign(kind=lambda d: d["pass"].map({1: "pass", 0: "rush"}))
        .groupby(["on", "kind"])
        .size()
    )
    for (on, kind), n in want.items():
        assert got[("on" if on else "off", kind)] == n


def test_on_off_table_golden(nfl, nfl_pd):
    """The reference's full bound table (R/on_off_nflreadr.R:59-95):
    8 blocks recomputed block-by-block in pandas with R semantics
    (NA-propagating means except fd's na.rm=T, ×100 pre-scales,
    HALF_EVEN display rounding)."""
    import numpy as np

    from collections import Counter

    part = nfl_pd["participation"]
    # R/on_off_nflreadr.R:7 — base frame filter(!is.na(down), !is.na(posteam))
    sea = part[(part["posteam"] == "SEA") & part["down"].notna()].copy()
    # the QB is on EVERY snap (split=0 empty) — pick the most
    # frequent genuinely part-time player so both splits populate
    counts = Counter(
        p for s in sea["offense_players"] for p in s.split(";")
    )
    gsis = max(
        (p for p, k in counts.items() if k < len(sea)),
        key=lambda p: (counts[p], p),
    )
    got = {
        (r["split"], r["rowname"]): (
            r["epa"], r["success"], r["p"], r["play"], r["fd"]
        )
        for r in onoff.on_off_table(
            nfl["participation"], gsis, "SEA"
        ).collect()
    }
    # :31-32 — membership over EITHER offense_players or defense_players
    sea["split"] = [
        int(gsis in o.split(";") or gsis in d.split(";"))
        for o, d in zip(sea["offense_players"], sea["defense_players"])
    ]

    def r_round(x, d):
        if x is None or (isinstance(x, float) and np.isnan(x)):
            return None
        from decimal import ROUND_HALF_EVEN, Decimal

        q = Decimal(10) ** -d
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_EVEN))

    def summar(sel, rowname):
        for split, g in sel.groupby("split"):
            epa = g["epa"].mean(skipna=False)
            succ = (100 * g["success"]).mean(skipna=False)
            p = g["pass"].mean(skipna=False)
            fd = (100 * g["first_down"]).mean(skipna=True)
            want = (
                r_round(float(epa), 2) if not np.isnan(epa) else None,
                r_round(float(succ), 2) if not np.isnan(succ) else None,
                r_round(100 * float(p), 0) if not np.isnan(p) else None,
                len(g),
                # fd is na.rm=T: an ALL-NA block is NaN (the r8 pin),
                # unlike the strict means whose any-NA result is None
                r_round(float(fd), 2) if not np.isnan(fd) else float("nan"),
            )
            for a, b in zip(got[(split, rowname)], want):
                if (
                    isinstance(a, float) and isinstance(b, float)
                    and np.isnan(a) and np.isnan(b)
                ):
                    continue  # NaN == NaN for this comparison
                assert a == b, (split, rowname, a, b)

    early = sea[sea["down"].isin([1, 2])]
    late = sea[sea["down"].isin([3, 4])]
    summar(sea, "All plays")
    summar(early, "Early downs (1st & 2nd)")
    summar(early[early["rush"] == 1], "Early rush")
    summar(early[early["pass"] == 1], "Early pass")
    summar(late, "3rd/4th down")
    summar(late[late["rush"] == 1], "Late rush")
    summar(late[late["pass"] == 1], "Late pass")
    summar(sea[sea["pass"] == 1], "Pass")
    summar(sea[sea["pass"] == 0], "Rush")
    # every block populated on the off-field side; the part-time
    # player's on-field side covers whichever blocks his snaps hit
    # (empty groups vanish in the reference's summarize too)
    assert {r for (s, r) in got if s == 0} == {
        "All plays", "Early downs (1st & 2nd)", "Early rush",
        "Early pass", "3rd/4th down", "Late rush", "Late pass",
        "Pass", "Rush",
    }
    assert any(s == 1 for (s, _) in got)
    # R/on_off_nflreadr.R:7 — the fixture's null-down snaps must be
    # excluded from the base frame: "All plays" counts only
    # non-null-down SEA snaps (the pre-filter frame is strictly larger)
    n_all = sum(v[3] for (s, r), v in got.items() if r == "All plays")
    assert n_all == len(sea)
    assert len(part[part["posteam"] == "SEA"]) > len(sea)


def test_on_off_table_null_down_excluded(spark):
    """R/on_off_nflreadr.R:7: a null-down snap never reaches any
    block — the reference's base frame is filter(!is.na(down),
    !is.na(posteam)) BEFORE make_table runs."""
    rows = [
        # (posteam, defteam, down, off_players, def_players, pass, rush)
        ("SEA", "SF", 1, "P1;P2", "D1;D2", 1, 0),
        ("SEA", "SF", None, "P1;P2", "D1;D2", 1, 0),  # null down → dropped
        ("SEA", "SF", 3, "P3;P4", "D1;D2", 0, 1),
        (None, None, 2, "P1;P2", "D1;D2", 0, 1),  # null posteam → dropped
    ]
    part = spark.createDataFrame(
        [
            {
                "posteam": p, "defteam": d, "down": dn,
                "offense_players": o, "defense_players": dp,
                "pass": pa, "rush": ru, "epa": 0.1,
                "success": 1, "first_down": 0,
            }
            for (p, d, dn, o, dp, pa, ru) in rows
        ],
        "posteam string, defteam string, down int, offense_players string, "
        "defense_players string, pass int, rush int, epa double, "
        "success int, first_down int",
    )
    tab = {
        (r["split"], r["rowname"]): r["play"]
        for r in onoff.on_off_table(part, "P1", "SEA").collect()
    }
    # 2 surviving SEA snaps: P1 on row 1, off row 3
    assert tab[(1, "All plays")] == 1
    assert tab[(0, "All plays")] == 1


def test_on_off_table_defense_golden(nfl, nfl_pd):
    """The o=0 branch (R/on_off_nflreadr.R:12-13,31-32,46-47):
    membership still spans both player lists; the team filter becomes
    defteam == tm. Pandas recompute over the defense side."""
    import numpy as np
    from collections import Counter

    part = nfl_pd["participation"]
    sea = part[(part["defteam"] == "SEA") & part["down"].notna()].copy()
    counts = Counter(
        p for s in sea["defense_players"] for p in s.split(";")
    )
    gsis = max(
        (p for p, k in counts.items() if k < len(sea)),
        key=lambda p: (counts[p], p),
    )
    got = {
        (r["split"], r["rowname"]): r["play"]
        for r in onoff.on_off_table(
            nfl["participation"], gsis, "SEA", side="defteam"
        ).collect()
    }
    sea["split"] = [
        int(gsis in o.split(";") or gsis in d.split(";"))
        for o, d in zip(sea["offense_players"], sea["defense_players"])
    ]
    want = sea.groupby("split").size()
    for split, n in want.items():
        assert got[(split, "All plays")] == n, split
    # both splits populated (the player is genuinely part-time)
    assert {s for (s, r) in got if r == "All plays"} == {0, 1}
    early = sea[sea["down"].isin([1, 2])]
    for split, n in early.groupby("split").size().items():
        assert got.get((split, "Early downs (1st & 2nd)"), 0) == n


def test_on_off_side_validation(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        onoff.split_on_off(
            spark.range(1).withColumnRenamed("id", "x"), "P", "SEA",
            side="hometeam",
        )


# ---------------------------------------------------------------------------
# qb_starters — first-play dedup + layout
# ---------------------------------------------------------------------------


def test_qb_starters_golden(nfl, nfl_pd):
    teams4 = ["SEA", "SF", "LA", "ARI"]
    starters = qb_starters.game_starters(nfl["cleaned_pbp"], nfl["roster"], teams4)
    sdf = starters.toPandas()
    pbp = nfl_pd["cleaned_pbp"]
    passes = pbp[pbp["posteam"].isin(teams4) & pbp["passer_player_name"].notna()]
    want_n = passes.groupby(["game_id", "posteam"]).size().shape[0]
    assert len(sdf) == want_n
    # every starter row carries the roster name
    assert sdf["full_name"].notna().all()

    layout = qb_starters.four_team_layout(starters, teams4).toPandas()
    # one row per DISTINCT starting QB (the reference summarizes to
    # QB level before the column hack), padded to the longest team
    distinct_qbs = sdf.groupby("posteam")["passer_player_id"].nunique()
    assert len(layout) == distinct_qbs.max()
    assert set(layout.columns) == {f"qb_{t}" for t in teams4}
    # shorter teams pad with the reference's " " filler, and each
    # column lists that team's QBs in first-start order
    for t in teams4:
        col = layout[f"qb_{t}"]
        n = distinct_qbs[t]
        assert (col.iloc[n:] == " ").all()
        # cells are the ROSTER full names (:36-37), in first-start
        # order
        team_rows = sdf[sdf["posteam"] == t]
        firsts = (
            team_rows.groupby(["passer_player_name", "full_name"])[
                "game_date"
            ]
            .min()
            .sort_values()
        )
        want_names = [fn for (_, fn) in firsts.index[:n]]
        assert list(col.iloc[:n]) == want_names


def test_four_team_layout_hand_append(nfl):
    """The Wolford hand-repair (:55-61): a literal name binds to the
    BOTTOM of one team's column before the padding step."""
    teams4 = ["SEA", "SF", "LA", "ARI"]
    starters = qb_starters.game_starters(
        nfl["cleaned_pbp"], nfl["roster"], teams4
    )
    layout = qb_starters.four_team_layout(
        starters, teams4, extra_rows={"LA": ("John Wolford",)}
    ).toPandas()
    la = [v for v in layout["qb_LA"] if v != " "]
    assert la[-1] == "John Wolford"
    base = qb_starters.four_team_layout(starters, teams4).toPandas()
    assert len(layout) >= len(base)


# ---------------------------------------------------------------------------
# draft_odds — devig + pivot + CDF
# ---------------------------------------------------------------------------


def test_draft_odds_devig_golden(nfl, spark):
    parsed = draft_odds.parse_odds(nfl["dk_draft_odds"])
    pdf = parsed.toPandas()
    assert not pdf["player"].str.contains("Draft Position").any()
    # vig present: raw implied probs sum > 1 per book
    sums = pdf.groupby(["player", "pick"])["pct"].sum()
    assert (sums > 1.0).all()

    devig = draft_odds.remove_vig(parsed)
    out_sums = devig.groupBy("player", "pick").agg(F.sum("pct").alias("s")).toPandas()
    assert out_sums["s"].sub(1.0).abs().max() < 1e-9  # converged

    wide = draft_odds.pivot_under_over(devig).toPandas()
    # exactly the reference's post-pivot select — pct_over (pct_0)
    # is dropped, the line is pick_dk (R/nfl_draft_espn_dk.R:44)
    assert list(wide.columns) == [
        "player", "pick_dk", "odds_under", "odds_over", "pct_under"
    ]
    assert wide["pick_dk"].is_monotonic_increasing  # arrange(pick_dk)

    proj = spark.createDataFrame(
        [("A", 1, 0.5), ("A", 2, 0.3), ("A", 3, 0.2), ("B", 1, 1.0)],
        "player string, espn_pick int, espn_prob double",
    )
    cdf = draft_odds.pick_cdf(proj).toPandas()
    a = cdf[cdf["player"] == "A"].sort_values("espn_pick")["cum_prob"].tolist()
    assert a == pytest.approx([0.5, 0.8, 1.0])

    # full join + edge + Kelly bets (R:75-90, 168-210) on the real
    # fixture lines: each player's ESPN pick mass straddles the line
    espn = spark.createDataFrame(
        [
            (p, "EDGE", k, pr)
            for i, p in enumerate(wide["player"])
            for k, pr in [
                (int(wide["pick_dk"][i] - 0.5), 0.6),
                (int(wide["pick_dk"][i] + 0.5), 0.4),
            ]
        ],
        "player string, pos string, espn_pick int, espn_prob double",
    )
    full = draft_odds.join_espn_dk(
        espn, draft_odds.pivot_under_over(devig)
    ).toPandas()
    # exactly the espn_pick == pick_dk - 0.5 row per player survives
    assert len(full) == len(wide)
    assert (full["espn_pick"] == full["pick_dk"] - 0.5).all()
    assert full["tot_espn"].tolist() == pytest.approx([60.0] * len(full))

    t = draft_odds.edge_table(
        draft_odds.join_espn_dk(espn, draft_odds.pivot_under_over(devig))
    ).toPandas()
    assert (
        t["diff"].tolist()
        == pytest.approx((t["before_espn"] - t["before_dk"]).tolist())
    )
    assert list(t["diff"]) == sorted(t["diff"], reverse=True)

    bets = draft_odds.kelly_bets(
        draft_odds.join_espn_dk(espn, draft_odds.pivot_under_over(devig))
    ).toPandas()
    # recompute one under stake by hand (R:171-176)
    for _, r in bets[bets["side"] == "under"].iterrows():
        row = full[full["player"] == r["player"]].iloc[0]
        p = row["tot_espn"] / 100.0
        b = 100.0 / abs(row["odds_under"])
        risked = 1000.0 * (p + (p - 1.0) / b)
        assert r["risked"] == pytest.approx(risked)
        assert r["to_win"] == pytest.approx(
            100.0 * risked / abs(row["odds_under"])
        )
        assert risked > 0
    assert (bets["risked"] > 0).all()


# ---------------------------------------------------------------------------
# epa_panel — aggregation, joins, lags, audits, corr
# ---------------------------------------------------------------------------


def test_epa_panel_golden(nfl, nfl_pd):
    panel = epa_panel.build_panel(
        nfl["cleaned_pbp"],
        nfl["qbr"],
        nfl["playcallers"],
        sis=nfl["sis"],
        grades=nfl["pff_qb_grades"],
        war=nfl["war"],
    )
    pdf = panel.toPandas()
    # one row per QB-season above threshold
    assert pdf.duplicated(["id", "season"]).sum() == 0
    # lag structure: 2020 rows have no lag; later seasons do
    assert pdf[pdf["season"] == 2020]["lag_epa_play"].isna().all()
    assert pdf[pdf["season"] > 2020]["lag_epa_play"].notna().all()

    # golden epa_play for one QB-season via pandas
    pbp = nfl_pd["cleaned_pbp"]
    qb_id = QBS["KC"][1]
    sel = pbp[
        ((pbp["pass"] == 1) | (pbp["rush"] == 1))
        & pbp["down"].notna()  # R/epa_predict.R:196 !is.na(down)
        & pbp["epa"].notna()
        & (pbp["season_type"] == "REG")
        & (pbp["id"] == qb_id)
        & (pbp["season"] == 2021)
    ]
    want = sel["qb_epa"].clip(lower=-4.5).mean()
    got = pdf[(pdf["id"] == qb_id) & (pdf["season"] == 2021)]["epa_play"].iloc[0]
    assert got == pytest.approx(want)

    # audit finds the planted missing QBR season (ARI 2021)
    audit = epa_panel.qbr_audit(panel).toPandas()
    assert ("ARI", 2021) in set(zip(audit["posteam"], audit["season"]))

    # playcaller change flag fires in 2022 (fixture changes callers)
    pc = epa_panel.playcaller_mode(nfl["playcallers"]).toPandas()
    assert (pc[pc["season"] == 2022]["new_pc"] == 1).all()
    assert (pc[pc["season"] == 2021]["new_pc"] == 0).all()

    corrs = {r["metric"]: r for r in epa_panel.stability_corrs(panel).collect()}
    assert set(corrs) == set(epa_panel.LAG_METRICS)
    for m, r in corrs.items():
        assert r["yoy_corr"] is None or abs(r["yoy_corr"]) <= 1.0
        assert r["n_pairs"] >= 0
    assert corrs["epa_play"]["yoy_corr"] is not None
    assert corrs["epa_play"]["n_pairs"] == 16  # 8 QBs × seasons 2021,2022

    xc = epa_panel.cross_corrs(panel).collect()[0]
    assert abs(xc["cor_epa_play"]) <= 1.0


def test_epa_panel_six_source_grid(nfl, nfl_pd):
    """The full R/epa_predict.R chain: SIS + PFF/WAR legs, AY/A, the
    composite index, and the full reference lag block (:241-261 —
    incl. the round-4 additions: unclamped epa_per_play, total_epa,
    tdint, and the lteam/lag_posteam string lag) — each recomputed
    independently in pandas."""
    panel = epa_panel.build_panel(
        nfl["cleaned_pbp"],
        nfl["qbr"],
        nfl["playcallers"],
        sis=nfl["sis"],
        grades=nfl["pff_qb_grades"],
        war=nfl["war"],
    )
    pdf = panel.toPandas()
    assert len(epa_panel.LAG_METRICS) == 17
    for m in epa_panel.LAG_METRICS:
        assert m in pdf.columns and f"lag_{m}" in pdf.columns
    # reference keeps BOTH epa means (:207-208): epa_play is the
    # clamped adj_epa, epa_per_play the raw mean — they differ only
    # when a qb_epa below -4.5 exists, and never exceed it
    assert (pdf["epa_per_play"] <= pdf["epa_play"] + 1e-12).all()
    # qbr logit rescale (:224-226)
    qp = pdf["qbr_total"] / 100.0
    import numpy as np_
    expect_logit = np_.log(qp / (1 - qp))
    diff_ok = (pdf["qbr_logit"] - expect_logit).abs() < 1e-9
    assert (diff_ok | pdf["qbr_total"].isna()).all()

    # --- AY/A recompute for one QB-season (R/epa_predict.R:184) ---
    pbp = nfl_pd["cleaned_pbp"]
    qb_id = QBS["KC"][1]
    sel = pbp[
        (pbp["season_type"] == "REG")  # :172 all_data load filter
        & pbp["epa"].notna()
        & ((pbp["rush"] == 1) | (pbp["pass"] == 1))
        & (pbp["play_type"] == "pass")
        & (
            (pbp["incomplete_pass"] == 1)
            | (pbp["complete_pass"] == 1)
            | (pbp["interception"] == 1)
        )
        & (pbp["id"] == qb_id)
        & (pbp["season"] == 2021)
    ]
    want_aya = (
        sel["yards_gained"].sum()
        + 20 * sel["pass_touchdown"].sum()
        - 45 * sel["interception"].sum()
    ) / len(sel)
    row = pdf[(pdf["id"] == qb_id) & (pdf["season"] == 2021)].iloc[0]
    assert row["aya"] == pytest.approx(want_aya)

    # --- SIS leg joined + source lag (R/epa_predict.R:65-86) ---
    sis = nfl_pd["sis"]
    kc = sis[(sis["player_id"] == 904) & (sis["season"] == 2021)].iloc[0]
    assert row["total_points"] == pytest.approx(kc["total_points"])
    assert row["tpp"] == pytest.approx(kc["total_points_per_play"])

    # --- PFF grade + WAR combine, war_per_play (:115-168, :228) ---
    g = nfl_pd["pff_qb_grades"]
    kcg = g[(g["player_id"] == 7004) & (g["season"] == 2021)].iloc[0]
    assert row["grade"] == pytest.approx(kcg["grades_offense"])
    w = nfl_pd["war"]
    kcw = w[(w["player_id"] == 7004) & (w["season"] == 2021)].iloc[0]
    assert row["war"] == pytest.approx(kcw["war"])
    assert row["war_per_play"] == pytest.approx(kcw["war"] / row["n_plays"])

    # planted WAR imperfections drop through the snaps>0 / non-null
    # filter: LA 2021 war is NULL in the panel
    la_id = QBS["LA"][1]
    la = pdf[(pdf["id"] == la_id) & (pdf["season"] == 2021)]
    if len(la):  # LA QB may miss the min-plays cut in tiny fixtures
        assert la["war"].isna().all()

    # --- composite index (dakota stand-in) and its lag ---
    want_index = 0.5 * row["epa_play"] + 0.02 * row["cpoe"]
    assert row["index"] == pytest.approx(want_index)

    # --- every lag column == pandas groupby-shift over season ---
    sp = pdf.sort_values(["id", "season"])
    for m in epa_panel.LAG_METRICS:
        want_lag = sp.groupby("id")[m].shift(1)
        got = sp[f"lag_{m}"]
        assert (got.isna() == want_lag.isna()).all(), m
        both = got.notna() & want_lag.notna()
        if m == "posteam":  # the one string lag (lteam, :251)
            assert (got[both] == want_lag[both]).all(), m
        else:
            assert np.allclose(
                got[both].astype(float), want_lag[both].astype(float)
            ), m

    # --- SIS audit finds the planted missing GB 2020 row only within
    # the coverage window (R/epa_predict.R:233-234) ---
    audit = epa_panel.sis_audit(panel, min_season=2019).toPandas()
    assert ("GB", 2020) in set(zip(audit["posteam"], audit["season"]))


def test_sis_known_entity_spot_check(nfl):
    """R/epa_predict.R:88-89 (`sis_all %>% filter(name == "R.Griffin
    III")`): the id-keyed name repair must surface the planted
    legal-first-name variant under the canonical pbp name, every
    season."""
    cleaned = epa_panel.clean_sis(nfl["sis"]).toPandas()
    dak = cleaned[cleaned["name"] == "D.Prescott"]
    assert sorted(dak["season"]) == [2020, 2021, 2022]
    # the naive initial.last derivation is never visible post-repair
    assert (cleaned["name"] != "R.Prescott").all()
    # source-side lags ordered by season within sis_id
    dak = dak.sort_values("season")
    want = dak["total_points"].shift(1)
    got = dak["lag_total_points_src"]
    assert (got.isna() == want.isna()).all()
    both = got.notna()
    assert np.allclose(got[both], want[both])


# ---------------------------------------------------------------------------
# pass_rate_oe — native logistic scorer
# ---------------------------------------------------------------------------


def test_pass_rate_oe(nfl, nfl_pd):
    out = pass_rate_oe.team_pass_oe(nfl["cleaned_pbp"], nfl["teams"]).toPandas()
    assert set(out["posteam"]) == set(TEAMS)
    assert out["exp_pass_rate"].between(0, 1).all()
    # pass_oe = 100*(pass_rate - exp_pass_rate) at team level
    delta = 100.0 * (out["pass_rate"] - out["exp_pass_rate"]) - out["pass_oe"]
    assert delta.abs().max() < 1e-9
    assert out["team_name"].notna().all()  # broadcast dim joined
    # reference chart frame: EARLY downs only (:23), pass_oe-ranked
    # dumbbell geometry (:32-35)
    pbp = nfl_pd["cleaned_pbp"]
    sel = pbp[
        pbp["down"].isin([1, 2])
        & pbp["posteam"].notna()
        & pbp["epa"].notna()
        & ((pbp["pass"] == 1) | (pbp["rush"] == 1))
    ]
    want_rate = sel.groupby("posteam")["pass"].mean()
    for _, r in out.iterrows():
        assert r["pass_rate"] == pytest.approx(want_rate[r["posteam"]])
        assert r["y"] == r["exp_pass_rate"] and r["yend"] == r["pass_rate"]
    ranked = out.sort_values("x")
    assert list(ranked["x"]) == list(range(1, len(out) + 1))
    assert list(ranked["pass_oe"]) == sorted(out["pass_oe"])
    # defense leg (:118-136)
    dout = pass_rate_oe.team_pass_oe(
        nfl["cleaned_pbp"], nfl["teams"], side="defteam"
    ).toPandas()
    want_def = sel.groupby("defteam")["pass"].mean()
    for _, r in dout.iterrows():
        assert r["pass_rate"] == pytest.approx(want_def[r["defteam"]])


def test_xpass_null_and_nan_features_score_null(spark):
    """A NULL or NaN ``wp`` and a NULL ``ydstogo`` give NULL xpass and
    NULL pass_oe (never NaN), so team_pass_oe's ``!is.na(pass_oe)``
    filter drops them."""
    rows = [
        (1, 1.0, "SEA", 0.1, 1, 0, 10, 900.0, 0.5),
        (2, 1.0, "SEA", 0.1, 1, 0, 10, 900.0, None),
        (3, 1.0, "SEA", 0.1, 1, 0, 10, 900.0, float("nan")),
        (4, 1.0, "SEA", 0.1, 0, 1, None, 900.0, 0.5),
    ]
    pbp = spark.createDataFrame(
        rows,
        "k int, down double, posteam string, epa double, pass int,"
        " rush int, ydstogo int, half_seconds_remaining double, wp double",
    )
    got = {
        r["k"]: (r["xpass"], r["pass_oe"])
        for r in pass_rate_oe.add_xpass(pbp).collect()
    }
    assert got[1][0] is not None and 0 < got[1][0] < 1
    assert got[2] == got[3] == got[4] == (None, None)


def test_xpass_matches_numpy_model(nfl, nfl_pd):
    """xpass is the fixed-coefficient logistic of ``_COEF``: equal to a
    numpy evaluation of the same terms to within 1 ulp (Spark's exp is
    fdlibm, numpy's depends on the CPU), and scored without a Python
    eval node in the plan."""
    scored = pass_rate_oe.add_xpass(nfl["cleaned_pbp"])
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    got = {
        (r["game_id"], r["play_id"]): r["xpass"]
        for r in scored.select("game_id", "play_id", "xpass").collect()
    }
    pbp = nfl_pd["cleaned_pbp"]
    pbp = pbp[
        pbp["down"].notna()
        & pbp["posteam"].notna()
        & pbp["epa"].notna()
        & ((pbp["pass"] == 1) | (pbp["rush"] == 1))
    ]
    c = pass_rate_oe._COEF
    z = (
        c["b0"]
        + c["down2"] * (pbp["down"] == 2)
        + c["down3"] * (pbp["down"] == 3)
        + c["down4"] * (pbp["down"] == 4)
        + c["ydstogo"] * pbp["ydstogo"]
        + c["half_seconds"] * pbp["half_seconds_remaining"]
        + c["wp_dist"] * (pbp["wp"] - 0.5).abs()
    )
    want = 1.0 / (1.0 + np.exp(-z.to_numpy()))
    keys = list(zip(pbp["game_id"], pbp["play_id"]))
    assert len(got) == len(keys) > 0
    assert [got[k] for k in keys] == pytest.approx(list(want), rel=1e-15)


# ---------------------------------------------------------------------------
# pass_block / preseason moves
# ---------------------------------------------------------------------------


def test_pass_block_moves(spark):
    grades = spark.createDataFrame(
        [
            (2021, "SEA", 60.0, 1, 70.0, 500, "A", 1),
            (2021, "SF", 80.0, 1, 75.0, 450, "B", 2),
            (2021, "LA", 40.0, 1, 65.0, 300, "C", 3),
            (2022, "SEA", 55.0, 1, 72.0, 520, "A", 1),
            (2022, "SF", 90.0, 1, 78.0, 610, "B", 2),
        ],
        "season int, team_abbr string, grades_pass_block double, week int,"
        " grades_offense double, snap_counts_pass_play int, player string,"
        " player_id long",
    )
    scaled = pass_block.rescaled_team_grades(grades, ["grades_pass_block"]).toPandas()
    s21 = scaled[scaled["season"] == 2021].set_index("team_abbr")[
        "grades_pass_block_scaled"
    ]
    assert s21["SF"] == 100.0 and s21["LA"] == 0.0 and s21["SEA"] == 50.0

    top = pass_block.top_snap_players(grades, min_snaps=400).toPandas()
    assert set(top["team_abbr"]) == {"SEA", "SF"}

    stab = pass_block.grade_stability(
        grades.withColumnRenamed("grades_pass_block", "grade"), "grade"
    ).toPandas()
    assert stab["n"].sum() == 2  # two players with consecutive seasons

    wide = spark.createDataFrame(
        [("SEA", 8.5, 9.5), ("SF", 10.5, 11.5)],
        "team_abbr string, x21 double, x22 double",
    )
    long = pass_block.unpivot_win_totals(wide, ["x21", "x22"], 2000).toPandas()
    assert len(long) == 4
    assert set(long["season"]) == {2021, 2022}
    sea21 = long[(long["team_abbr"] == "SEA") & (long["season"] == 2021)]
    assert sea21["over"].iloc[0] == 8.5

    # filter(!is.na(over)) after the unpivot (R/preseason_
    # predictiveness.R:48-50): an empty decade cell (Texans before
    # they existed) drops from the long frame entirely
    wide_holey = spark.createDataFrame(
        [("SEA", 8.5, 9.5), ("HOU", None, 7.5)],
        "team_abbr string, x21 double, x22 double",
    )
    holey = pass_block.unpivot_win_totals(
        wide_holey, ["x21", "x22"], 2000
    ).toPandas()
    assert len(holey) == 3
    assert holey["over"].notna().all()
    hou = holey[holey["team_abbr"] == "HOU"]
    assert set(hou["season"]) == {2022}

    fit_in = spark.createDataFrame(
        [(8.0, 1.0), (9.0, 3.0), (10.0, 5.0)], "over double, diff double"
    )
    fit = pass_block.preseason_fit(fit_in).collect()[0]
    assert fit["slope"] == pytest.approx(2.0)
    assert fit["intercept"] == pytest.approx(-15.0)
    assert fit["r2"] == pytest.approx(1.0)


def test_ol_projection_moves(spark):
    players = spark.createDataFrame(
        [
            ("Vet A", "T", 2021, 80.0, 1),
            ("Vet A", "T", 2022, 85.0, 1),
            ("Vet B", "T", 2022, 60.0, 2),
            ("Vet C", "G", 2022, 70.0, 3),
        ],
        "player string, position string, season int, grades_pass_block double,"
        " player_id long",
    )
    latest = ol_projection.latest_grade_per_player(players).toPandas()
    assert latest[latest["player"] == "Vet A"]["season"].iloc[0] == 2022

    picks = spark.createDataFrame(
        [(2023, "Rookie X", "T", 10)],
        "season int, pfr_name string, position string, pick int",
    )
    valued = ol_projection.impute_rookie_value(
        ol_projection.latest_grade_per_player(players).drop("season", "player_id"),
        picks,
    ).toPandas()
    rx = valued[valued["player"] == "Rookie X"]
    assert rx["value"].iloc[0] == pytest.approx(100.0 - 10 * 0.28)

    ranked = ol_projection.position_percentiles(
        ol_projection.impute_rookie_value(
            ol_projection.latest_grade_per_player(players).drop(
                "season", "player_id"
            ),
            picks,
        ).fillna({"position": "T"})
    )
    rdf = ranked.toPandas()
    t_block = rdf[rdf["position"] == "T"].sort_values("rank")
    assert t_block["pct_normed"].iloc[0] == 100.0  # best tackle
    tiers = ol_projection.value_tiers(ranked).toPandas()
    assert (tiers["p20"] <= tiers["p50"]).all() and (
        tiers["p50"] <= tiers["p80"]
    ).all()
    report = ol_projection.top_bottom_report(ranked, k=2).toPandas()
    assert set(report["side"]) == {"top", "bottom"}


def test_gauge_needle_geometry(nfl):
    import math

    rows = let_russ_cook.team_pass_rates(nfl["cleaned_pbp"]).collect()
    for r in rows:
        theta = (1.0 - r["gauge"] / 100.0) * math.pi
        assert r["needle_x"] == pytest.approx(math.cos(theta))
        assert r["needle_y"] == pytest.approx(math.sin(theta))
        assert r["needle_y"] >= -1e-12  # needle stays in upper half
    # extremes point left/right
    by_gauge = sorted(rows, key=lambda r: r["gauge"])
    assert by_gauge[0]["needle_x"] == pytest.approx(-1.0)
    assert by_gauge[-1]["needle_x"] == pytest.approx(1.0)


def test_preseason_pipeline(nfl, nfl_pd, spark):
    from nfl_data_pipeline_spark.plans import preseason

    wins = preseason.team_season_wins(nfl["games"]).toPandas()
    g = nfl_pd["games"]
    played = g[g["result"].notna() & (g["result"] != 0)]
    for _, row in wins.iterrows():
        sub = played[played["season"] == row["season"]]
        want = (
            (sub["home_team"] == row["team_abbr"]) & (sub["result"] > 0)
        ).sum() + ((sub["away_team"] == row["team_abbr"]) & (sub["result"] < 0)).sum()
        assert row["wins"] == want

    # reference results frame: POINT DIFFERENTIAL with R's NA-
    # propagating sum (unplayed game ⇒ that team-season audits out)
    pdiff = preseason.team_season_point_diff(nfl["games"]).toPandas()
    legs = pd.concat(
        [
            g.rename(columns={"home_team": "team_abbr"})[
                ["season", "team_abbr", "result"]
            ],
            g.rename(columns={"away_team": "team_abbr"})[
                ["season", "team_abbr", "result"]
            ].assign(result=lambda d: -d["result"]),
        ]
    )
    want_diff = legs.groupby(["season", "team_abbr"])["result"].agg(
        lambda s: s.sum() if s.notna().all() else None
    )
    for _, r in pdiff.iterrows():
        w = want_diff[(r["season"], r["team_abbr"])]
        assert (pd.isna(r["diff"]) and pd.isna(w)) or r["diff"] == w

    # expectations: teams × seasons wide table; one bogus team to
    # exercise the audit
    # one bogus team to exercise the audit, one team with a NULL
    # decade cell (Texans-style) that must vanish at the unpivot —
    # NOT surface in the audit (R/preseason_predictiveness.R:48-50)
    wide = spark.createDataFrame(
        [(t, 1.5, 2.0, 2.5) for t in TEAMS]
        + [("XXX", 1.0, 1.0, 1.0), ("YYY", None, 1.0, 1.0)],
        "team_abbr string, x20 double, x21 double, x22 double",
    )
    joined = preseason.expectations_vs_actuals(
        wide, nfl["games"], ["x20", "x21", "x22"], 2000
    )
    audit = preseason.audit_unmatched(joined).toPandas()
    # the bogus teams + every NA-poisoned team-season (R sum
    # semantics); YYY's NULL-over 2020 row was dropped pre-join, so
    # the audit sees YYY only for 2021/2022
    poisoned = {
        (s, t) for (s, t), v in want_diff.items() if pd.isna(v)
    }
    assert set(audit["team_abbr"]) == {"XXX", "YYY"} | {
        t for _, t in poisoned
    }
    yyy_audit = audit[audit["team_abbr"] == "YYY"]
    assert set(yyy_audit["season"]) == {2021, 2022}
    jp_all = joined.toPandas()
    assert jp_all["over"].notna().all()
    assert (
        len(jp_all[jp_all["team_abbr"] == "YYY"]) == 2
    ), "NULL decade cell must drop at the unpivot, not join through"

    # per-season league-wide sum of over lines (:54-56)
    jp = joined.toPandas()
    for season, grp in jp.groupby("season"):
        assert grp["season_wins"].nunique() == 1
        assert grp["season_wins"].iloc[0] == pytest.approx(
            grp["over"].sum()
        )

    fit = preseason.predictiveness_fit(joined).collect()[0]
    assert fit["n"] > 0 and fit["r2"] is not None

    # the full reference ``df`` (:113-118): ps_diff left-joined in,
    # ps_point_diff served as TEXT (PFR) and cast by the plan, then
    # lm(diff ~ over + ps_point_diff) (:151) vs numpy lstsq
    import numpy as np

    rng = np.random.default_rng(4)
    keys = jp[["team_abbr", "season"]].drop_duplicates()
    ps_vals = rng.normal(0, 10, len(keys)).round(1)
    ps_diff_sdf = spark.createDataFrame(
        [
            (t, int(s), str(v))
            for (t, s), v in zip(
                keys.itertuples(index=False, name=None), ps_vals
            )
        ],
        "team_abbr string, season int, ps_point_diff string",
    )
    full_df = preseason.expectations_vs_actuals(
        wide, nfl["games"], ["x20", "x21", "x22"], 2000, ps_diff=ps_diff_sdf
    )
    fp = full_df.toPandas()
    assert fp["ps_point_diff"].dtype.kind == "f", "as.numeric cast missing"
    sub = fp[fp["diff"].notna() & fp["ps_point_diff"].notna()].copy()
    fit2 = preseason.predictiveness_fit2(full_df).collect()[0]
    X = np.column_stack(
        [np.ones(len(sub)), sub["over"], sub["ps_point_diff"]]
    )
    beta, *_ = np.linalg.lstsq(X, sub["diff"].astype(float), rcond=None)
    assert fit2["intercept"] == pytest.approx(beta[0])
    assert fit2["beta_over"] == pytest.approx(beta[1])
    assert fit2["beta_ps_point_diff"] == pytest.approx(beta[2])
    assert 0.0 <= fit2["r2"] <= 1.0


def test_weekly_pass_rates(nfl, nfl_pd):
    out = let_russ_cook.weekly_pass_rates(nfl["cleaned_pbp"], "SEA").toPandas()
    pbp = nfl_pd["cleaned_pbp"]
    neutral = pbp[
        pbp["down"].isin([1, 2])
        & pbp["wp"].between(0.2, 0.8)
        & (pbp["half_seconds_remaining"] > 120)
        & pbp["epa"].notna()
        & pbp["posteam"].notna()
    ]
    sel = neutral[neutral["posteam"] == "SEA"]
    want = sel.groupby("week")["pass"].mean()
    assert len(out) == len(want)
    # the reference recomputes the ALL-team rescale inside each weekly
    # facet (get_figure on the week slice) — gauge must match that,
    # and the needle must follow the gauge
    import math

    weekly_all = neutral.groupby(["week", "posteam"])["pass"].mean()
    for _, r in out.iterrows():
        assert r["pass_rate"] == pytest.approx(want[r["week"]])
        teams = weekly_all[r["week"]]
        gauge = 100.0 * (
            (teams["SEA"] - teams.min()) / (teams.max() - teams.min())
        )
        assert r["gauge"] == pytest.approx(gauge)
        theta = (1.0 - gauge / 100.0) * math.pi
        assert r["needle_x"] == pytest.approx(math.cos(theta))
        assert r["needle_y"] == pytest.approx(math.sin(theta))
        opp = sel[sel["week"] == r["week"]]["defteam"].unique()
        assert r["opponent"] in opp


def test_pff_clean_and_names(spark):
    from nfl_data_pipeline_spark.plans import pff_grades

    raw = spark.createDataFrame(
        [(28, "OAK", 77.0), (3, "SD", 66.0), (32, "SEA", 88.0)],
        "week int, team_abbr string, grades_offense double",
    )
    cleaned = pff_grades.clean_week_panel(
        raw, {"OAK": "LV", "SD": "LAC"}
    ).toPandas()
    got = {r["team_abbr"]: r["week"] for _, r in cleaned.iterrows()}
    assert got == {"LV": 19, "LAC": 3, "SEA": 22}

    # the remap is SEASON-DEPENDENT (pff/0_scrape.R:58-67): the
    # 16-game era parks the conference rounds one week earlier and
    # the Super Bowl at 21
    eras = spark.createDataFrame(
        [
            (2020, 28), (2020, 30), (2020, 32), (2020, 17),
            (2021, 28), (2021, 30), (2021, 32), (2021, 17),
        ],
        "season int, week int",
    ).withColumn("team_abbr", F.lit("SEA"))
    era_weeks = [
        (r["season"], r["week"])
        for r in pff_grades.clean_week_panel(eras, {}).collect()
    ]
    assert sorted(era_weeks) == sorted(
        [
            (2020, 18), (2020, 20), (2020, 21), (2020, 17),
            (2021, 19), (2021, 21), (2021, 22), (2021, 17),
        ]
    )

    dc = spark.createDataFrame(
        [
            ("SEA", "LT", "BROWN,  JAMARCO 18/3"),
            ("SEA", "C", "Lewis, Damien"),
            ("SF", "RT", "Trent Williams"),
            # the two reference regexes beyond trailing pick marks
            # (6a_ourlads_scrape.R:32-36): a school slash mid-string
            # and a CAPS+digits token
            ("SF", "LG", "SMITH, JOHN ND/12 extra"),
            ("SF", "RG", "JONES, BOB IR5"),
        ],
        "current_team string, position_ourlads string, player string",
    )
    names = {
        r["position_ourlads"]: r["player"]
        for r in pff_grades.depth_chart(dc).collect()
    }
    assert names["LT"] == "Jamarco Brown"
    assert names["C"] == "Damien Lewis"
    assert names["RT"] == "Trent Williams"
    assert names["LG"] == "John Smith"
    assert names["RG"] == "Bob Jones"


def test_depth_chart_starters_fa_fallback(spark):
    """The get_depth_chart engine half (6a_ourlads_scrape.R:22-44):
    FA fallback chain (slot 1 FA → slot 2; slots 1+2 FA → slot 3),
    OL-position filter, cleaning before the comma split, and the
    (first, last) output shape."""
    from nfl_data_pipeline_spark.plans import pff_grades

    raw = spark.createDataFrame(
        [
            # slot-1 starter keeps
            ("SEA", "LT", "BROWN, JAMARCO 18/3", "BACKUP, BOB", "THIRD, TOM"),
            # slot 1 is FA → slot 2
            ("SEA", "LG", "GONE, GUY", "NEXT, NED 20/4", "THIRD, TIM"),
            # slots 1 AND 2 are FA → slot 3
            ("SEA", "C", "GONE, GUY", "ALSOGONE, AL", "SURVIVOR, SAM"),
            # non-OL rows are filtered out
            ("SEA", "QB", "STAR, STEVE", "B, B", "C, C"),
        ],
        "team_abbr string, pos string, player_1 string, "
        "player_2 string, player_3 string",
    )
    fa = spark.createDataFrame(
        [("SEA", "GONE, GUY"), ("SEA", "ALSOGONE, AL")],
        "team_abbr string, player string",
    )
    got = {
        r["position"]: (r["first"], r["last"])
        for r in pff_grades.depth_chart_starters(raw, fa).collect()
    }
    assert set(got) == {"LT", "LG", "C"}  # QB filtered
    assert got["LT"] == ("Jamarco", "Brown")
    assert got["LG"] == ("Ned", "Next")
    assert got["C"] == ("Sam", "Survivor")


def test_ol_projected_value(spark):
    import math

    from nfl_data_pipeline_spark.plans import ol_projection

    ranked = spark.createDataFrame(
        [("A", "T", 90.0, 1, 100.0), ("B", "T", 50.0, 2, 50.0)],
        "player string, position string, value double, rank int, pct_normed double",
    )
    out = {
        r["player"]: r["projected"]
        for r in ol_projection.projected_value(ranked).collect()
    }
    assert out["A"] == pytest.approx(3.0 * math.tanh(1.25) + 0.8)
    assert out["A"] > out["B"]  # monotone in percentile


def test_pass_block_player_stability_panel(spark):
    """Reference panel (pff/99:222-258) recomputed in pandas:
    position-season rescale, per-player lags, 4-way type split."""
    import numpy as np

    from nfl_data_pipeline_spark.plans import pass_block

    rows = []
    rng = np.random.default_rng(8)
    for pid, pos in [(1, "T"), (2, "T"), (3, "G"), (4, "G"), (5, "T")]:
        team = ["SEA", "SF", "LA"][pid % 3]
        for season in (2019, 2020, 2021):
            # player 5 switches teams in 2021
            t = "ARI" if (pid == 5 and season == 2021) else team
            rows.append(
                (
                    season, t, float(rng.uniform(40, 90)), 1, 70.0,
                    400 + pid * 10 + season % 10, f"P{pid}", pid, pos,
                )
            )
    grades = spark.createDataFrame(
        rows,
        "season int, team_abbr string, grades_pass_block double, week int,"
        " grades_offense double, snap_counts_pass_play int, player string,"
        " player_id long, position string",
    )
    panel = pass_block.player_stability_panel(grades).toPandas()
    # lags exist only where a prior season exists
    assert (panel["lseason"] < panel["season"]).all()
    # 0-100 position-season rescale
    gp = panel.groupby(["position", "season"])["pb_grade"]
    assert panel["pb_grade"].between(0, 100).all()
    # the team switch is classified
    sw = panel[(panel["player_id"] == 5) & (panel["season"] == 2021)]
    assert list(sw["type"]) == ["T, switched teams"]
    same = panel[(panel["player_id"] == 3) & (panel["season"] == 2021)]
    assert list(same["type"]) == ["G/C, same team"]

    by_type = {
        r["type"]: r["cor"]
        for r in pass_block.stability_by_type(
            pass_block.player_stability_panel(grades)
        ).collect()
    }
    for t, grp in panel.groupby("type"):
        if len(grp) >= 2 and grp["pb_grade"].std() > 0 and grp["lgrade"].std() > 0:
            want = round(grp["pb_grade"].corr(grp["lgrade"]), 2)
            assert by_type[t] == pytest.approx(want, abs=1e-9)


def test_pass_block_team_protection_cors(spark):
    import numpy as np

    from nfl_data_pipeline_spark.plans import pass_block

    rng = np.random.default_rng(9)
    rows = []
    for team in ["SEA", "SF", "LA", "ARI"]:
        for season in (2019, 2020, 2021):
            rows.append(
                (
                    team, season,
                    float(rng.normal(0, 0.1)),
                    float(rng.uniform(0, 100)),
                    float(rng.uniform(0, 100)),
                )
            )
    df = spark.createDataFrame(
        rows, "posteam string, season int, epa double, wr double, pb_grade double"
    )
    got = pass_block.team_protection_cors(df).collect()[0]
    pdf = df.toPandas().sort_values(["posteam", "season"])
    pdf["lgrade"] = pdf.groupby("posteam")["pb_grade"].shift(1)
    pdf["lwr"] = pdf.groupby("posteam")["wr"].shift(1)
    sel = pdf[pdf["season"] > 2019]
    assert got["n"] == len(sel)
    assert got["cor_grade_lgrade"] == pytest.approx(
        sel["pb_grade"].corr(sel["lgrade"])
    )
    assert got["cor_wr_lwr"] == pytest.approx(sel["wr"].corr(sel["lwr"]))
    assert got["cor_epa_wr"] == pytest.approx(sel["epa"].corr(sel["wr"]))
    assert got["cor_epa_lwr"] == pytest.approx(sel["epa"].corr(sel["lwr"]))


def test_team_pass_epa_golden(nfl, nfl_pd):
    """The pb_grade-vs-pass-offense pbp leg (pff/99_passblock_piece.R:
    114-118): base filter down<=4, pass==1, REG, !is.na(epa), then
    per-team-season mean EPA — recomputed in pandas over the fixture
    (which plants null downs, null epa, and POST games)."""
    got = {
        (r["posteam"], r["season"]): r["epa"]
        for r in pass_block.team_pass_epa(nfl["cleaned_pbp"]).collect()
    }
    pbp = nfl_pd["cleaned_pbp"]
    sel = pbp[
        (pbp["down"] <= 4)  # NaN down drops, like R
        & (pbp["pass"] == 1)
        & (pbp["season_type"] == "REG")
        & pbp["epa"].notna()
    ]
    want = sel.groupby(["posteam", "season"])["epa"].mean()
    assert len(got) == len(want)
    for (team, season), epa in want.items():
        assert got[(team, season)] == pytest.approx(epa, rel=1e-9)
    # the base filter bites: the unfiltered frame has more team-seasons
    # worth of pass plays than the REG/non-null-epa slice has rows
    assert len(sel) < len(pbp[pbp["pass"] == 1])


def test_grade_vs_pass_epa_join(spark, nfl):
    grades = spark.createDataFrame(
        [("SEA", 2021, 70.0)], "posteam string, season int, pb_grade double"
    )
    df = pass_block.grade_vs_pass_epa(nfl["cleaned_pbp"], grades)
    pdf = df.toPandas()
    # left join: every team-season from the pbp leg survives; only
    # the matched row carries a grade
    assert pdf["pb_grade"].notna().sum() == (
        1 if ((pdf["posteam"] == "SEA") & (pdf["season"] == 2021)).any() else 0
    )
    assert pdf["epa"].notna().all()


def test_clean_week_panel_base_filter(spark):
    """pff/0_scrape.R:55 — the clean stage starts with
    filter(!is.na(grades_pass_block))."""
    from nfl_data_pipeline_spark.plans import pff_grades

    raw = spark.createDataFrame(
        [(3, "SEA", 70.0), (4, "SF", None)],
        "week int, team_abbr string, grades_pass_block double",
    )
    out = pff_grades.clean_week_panel(raw, {}).toPandas()
    assert list(out["team_abbr"]) == ["SEA"]


def test_ol_normalize_position(spark):
    from nfl_data_pipeline_spark.plans import ol_projection

    df = spark.createDataFrame(
        [
            ("A", "LT", "RT"),
            ("B", None, "LG"),
            ("C", "C", None),
            ("D", "RG", "LT"),
        ],
        "player string, position string, position_ourlads string",
    )
    got = {
        r["player"]: r["position"]
        for r in ol_projection.normalize_position(df).collect()
    }
    # A: LT→T; B: NULL falls back to ourlads LG→G; C stays C; D: RG→G
    assert got == {"A": "T", "B": "G", "C": "C", "D": "G"}


def test_epa_panel_ya_join_is_keyed_by_name(spark):
    """R/epa_predict.R:215: left_join(ya, by = c("id", "name",
    "season")) — name is part of the key, so a QB whose ordered-first
    name differs between the all-plays frame (:202) and the
    pass-plays ya frame (:180) gets NULL ya columns."""
    from nfl_data_pipeline_spark.plans import epa_panel

    rows = []
    # QB A: renamed between a RUSH first play and the PASS plays —
    # base.name (all plays, ordered first) = "Old.Name" but ya.name
    # (pass plays only) = "New.Name" → names mismatch → ya nulls
    rows.append(("g1", 1.0, "A", "Old.Name", 2021, "REG", 0, 1, None, 0, 0, 0, 0.2, 0.2, 10.0, 1, "run"))
    for p_ in range(2, 40):
        rows.append(("g1", float(p_), "A", "New.Name", 2021, "REG", 1, 0, 1, 1, 0, 0, 0.1, 0.1, 8.0, 1, "pass"))
    # QB B: consistent name on every play → ya columns populate
    for p_ in range(1, 40):
        rows.append(("g2", float(p_), "B", "Same.Name", 2021, "REG", 1, 0, 1, 1, 0, 0, 0.1, 0.1, 8.0, 1, "pass"))
    # ...and POST pass attempts, which the reference's :172 load
    # filter (season_type == "REG") keeps OUT of ya — 100-yard plays
    # here would shift ya off 8.0 if they leaked in
    for p_ in range(1, 10):
        rows.append(("g3", float(p_), "B", "Same.Name", 2021, "POST", 1, 0, 1, 1, 0, 0, 0.1, 0.1, 100.0, 1, "pass"))
    pbp = spark.createDataFrame(
        rows,
        "game_id string, play_id double, id string, name string,"
        " season int, season_type string, pass int, rush int,"
        " incomplete_pass int, complete_pass int, interception int,"
        " pass_touchdown int, epa double, qb_epa double,"
        " yards_gained double, success int, play_type string",
    ).withColumn("down", F.lit(1)).withColumn("posteam", F.lit("SEA")).withColumn("cpoe", F.lit(0.0))
    qbr = spark.createDataFrame(
        [], "season int, team string, name_first string, name_last string,"
        " player_id string, qb_plays int, qbr_total double"
    )
    pc = spark.createDataFrame(
        [], "season int, posteam string, week int, off_play_caller string"
    )
    panel = epa_panel.build_panel(
        pbp, qbr, pc, min_plays=5, min_dropbacks=5
    ).toPandas().set_index("id")
    import math

    assert math.isnan(panel.loc["A", "ya"]) or panel.loc["A", "ya"] is None
    assert panel.loc["B", "ya"] == pytest.approx(8.0)


def test_epa_panel_qbr_join_by_name_season_only(spark):
    """R/epa_predict.R:217: left_join(qbr, by = c("name", "season")) —
    the reference's qbr frame (:105) carries NO team column, so a QB
    whose QBR listing team differs from first(posteam) still matches;
    and :104 filter(qb_plays > 10) drops low-sample QBR rows."""
    from nfl_data_pipeline_spark.plans import epa_panel

    rows = []
    # QB A: pbp posteam SEA, but the QBR table lists him under DEN
    # (traded after the listing) — reference still matches by name
    for p_ in range(1, 40):
        rows.append(("g1", float(p_), "A", "T.Guy", 2021, "REG", 1, 0, 1, 1, 0, 0, 0.1, 0.1, 8.0, 1, "pass"))
    # QB B: QBR row exists but with qb_plays = 10 (NOT > 10) → dropped
    for p_ in range(1, 40):
        rows.append(("g2", float(p_), "B", "L.Sample", 2021, "REG", 1, 0, 1, 1, 0, 0, 0.1, 0.1, 8.0, 1, "pass"))
    # QB C: QBR listing builds "D.Haskins Jr." — the :97-101
    # case_when repairs it to "D.Haskins", which then matches pbp
    for p_ in range(1, 40):
        rows.append(("g3", float(p_), "C", "D.Haskins", 2021, "REG", 1, 0, 1, 1, 0, 0, 0.1, 0.1, 8.0, 1, "pass"))
    pbp = spark.createDataFrame(
        rows,
        "game_id string, play_id double, id string, name string,"
        " season int, season_type string, pass int, rush int,"
        " incomplete_pass int, complete_pass int, interception int,"
        " pass_touchdown int, epa double, qb_epa double,"
        " yards_gained double, success int, play_type string",
    ).withColumn("down", F.lit(1)).withColumn("posteam", F.lit("SEA")).withColumn("cpoe", F.lit(0.0))
    qbr = spark.createDataFrame(
        [
            (2021, "Trade", "Guy", "DEN", "e1", 200, 60.0),
            (2021, "Low", "Sample", "SEA", "e2", 10, 70.0),
            (2021, "Dwayne", "Haskins Jr.", "PIT", "e3", 150, 45.0),
        ],
        "season int, name_first string, name_last string, team string,"
        " player_id string, qb_plays int, qbr_total double",
    )
    pc = spark.createDataFrame(
        [], "season int, posteam string, week int, off_play_caller string"
    )
    panel = epa_panel.build_panel(
        pbp, qbr, pc, min_plays=5, min_dropbacks=5
    ).toPandas().set_index("id")
    # traded QB matched by (name, season) despite the team mismatch
    assert panel.loc["A", "qbr_total"] == pytest.approx(60.0)
    assert panel.loc["A", "espn_plays"] == 200
    # qb_plays = 10 fails the strict > 10 gate → no QBR columns
    assert pd.isna(panel.loc["B", "qbr_total"])
    # "D.Haskins Jr." repaired to "D.Haskins" (:97-101) → matches
    assert panel.loc["C", "qbr_total"] == pytest.approx(45.0)
    assert panel.loc["C", "espn_id"] == "e3"


def test_epa_panel_spot_check_and_source_qbr_lag(nfl, nfl_pd):
    """qb_spot_check reproduces R/epa_predict.R:236-238's projection;
    espn_lag_qbr is the SOURCE-side lag (:108-111 — lag of raw
    qbr_total over espn_id by season), distinct from the panel's
    lag_qbr_logit (:259), recomputed here in pandas from the qbr
    fixture directly."""
    from nfl_data_pipeline_spark.plans import epa_panel

    panel = epa_panel.build_panel(
        nfl["cleaned_pbp"],
        nfl["qbr"],
        nfl["playcallers"],
        sis=nfl["sis"],
        grades=nfl["pff_qb_grades"],
        war=nfl["war"],
    )
    name, _ = QBS["KC"]
    spot = epa_panel.qb_spot_check(panel, name=name).toPandas()
    assert list(spot.columns) == [
        "name", "season", "posteam", "new_pc", "n_plays", "espn_plays",
        "epa_per_play", "total_points", "qbr", "lag_qbr", "cpoe",
        "grade", "lag_grade", "war",
    ]
    assert (spot["name"] == name).all() and len(spot) >= 2

    # source-side lag recompute: raw qbr_total over player_id by season
    q = nfl_pd["qbr"].copy()
    q = q[q["qb_plays"] > 10]
    q["built"] = q["name_first"].str[0] + "." + q["name_last"]
    q = q.sort_values(["player_id", "season"])
    q["want_lag"] = q.groupby("player_id")["qbr_total"].shift(1)
    want = q[q["built"] == name].set_index("season")["want_lag"]
    got = spot.set_index("season")["lag_qbr"]
    for season, lag in got.items():
        w = want.get(season)
        if pd.isna(w):
            assert pd.isna(lag)
        else:
            assert lag == pytest.approx(w)
    # and the spot-check qbr column is the LOGIT, not raw qbr_total
    raw = q[q["built"] == name].set_index("season")["qbr_total"]
    for season, v in spot.set_index("season")["qbr"].items():
        p = raw.get(season) / 100.0
        assert v == pytest.approx(np.log(p / (1 - p)))


def test_wilson_epa_nan_when_qb_never_played(spark):
    """R mean(x, na.rm=T) over an ALL-NA vector is NaN (not NA): a
    game where the named QB never took a snap gets wilson_epa = NaN
    in the reference frame — plain SQL AVG would yield NULL."""
    import math

    from nfl_data_pipeline_spark.plans import wilson

    rows = []
    # game 1: backup QB only → wilson_epa all-null → NaN
    for p_ in range(1, 8):
        rows.append(("2020_01_SEA_SF", float(p_), "B.Backup", 2020, 1,
                     "SF", "SEA", 1, 0, 1, 0.5, 0.2, 0.1))
    # game 2: R.Wilson plays → real mean
    for p_ in range(1, 8):
        rows.append(("2020_02_SEA_LA", float(p_), "R.Wilson", 2020, 2,
                     "LA", "SEA", 1, 0, 1, 0.5, 0.3, 0.3))
    pbp = spark.createDataFrame(
        rows,
        "game_id string, play_id double, name string, season int,"
        " week int, defteam string, home_team string, pass int,"
        " rush int, down int, wp double, epa double, qb_epa double",
    ).withColumn("posteam", F.lit("SEA"))
    out = {
        r["game_id"]: r["wilson_epa"]
        for r in wilson.per_game_summary(pbp, "SEA").collect()
    }
    assert math.isnan(out["2020_01_SEA_SF"])
    assert out["2020_02_SEA_LA"] == pytest.approx(0.3)


def test_wilson_nan_epa_not_labeled_by_epa_extremes(spark):
    """R's geom_text_repel filter (:87-89) drops rows where the epa
    comparison is NA (NaN > .8 is NA in R): a NaN-wilson_epa era-1
    game with a moderate pass rate must come out labeled = 0 — Spark's
    NaN total ordering would label it without the isnan guard."""
    from nfl_data_pipeline_spark.plans import wilson

    rows = [
        ("2017_05_SEA_NYG", float(p_), "B.Backup", 2017, 5, "NYG",
         "SEA", p_ % 2, 1 - p_ % 2, 1, 0.5, 0.1, 0.1)
        for p_ in range(1, 9)
    ]
    pbp = spark.createDataFrame(
        rows,
        "game_id string, play_id double, name string, season int,"
        " week int, defteam string, home_team string, pass int,"
        " rush int, down int, wp double, epa double, qb_epa double",
    ).withColumn("posteam", F.lit("SEA"))
    out = wilson.chart_frame(wilson.per_game_summary(pbp, "SEA")).collect()
    assert len(out) == 1
    r = out[0]
    import math

    assert math.isnan(r["wilson_epa"]) and r["era"] == 1
    assert r["labeled"] == 0


def test_onoff_fd_nan_when_block_all_null(spark):
    """fd = mean(first_down, na.rm=T) (:60): an all-NA block yields
    NaN in R (not NA) — e.g. every late-down snap missing first_down
    while other blocks have real values."""
    import math

    from nfl_data_pipeline_spark.plans import onoff

    rows = []
    # early downs: real first_down values
    for p_ in range(1, 9):
        rows.append(("g1", float(p_), 1, 1, 0, 0.1, 1, 0, "A;B", "C;D"))
    # late downs: first_down all NULL
    for p_ in range(9, 15):
        rows.append(("g1", float(p_), 3, 1, 0, 0.2, None, 1, "A;B", "C;D"))
    pbp = spark.createDataFrame(
        rows,
        "game_id string, play_id double, down int, pass int, rush int,"
        " epa double, first_down int, success int,"
        " offense_players string, defense_players string",
    ).withColumn("posteam", F.lit("SEA")).withColumn("defteam", F.lit("SF"))
    tbl = onoff.on_off_table(pbp, "A", "SEA").toPandas()
    late = tbl[(tbl["rowname"] == "3rd/4th down") & (tbl["split"] == 1)]
    assert len(late) == 1 and math.isnan(late["fd"].iloc[0])
    early = tbl[
        (tbl["rowname"] == "Early downs (1st & 2nd)") & (tbl["split"] == 1)
    ]
    assert early["fd"].iloc[0] == pytest.approx(100.0)


def test_stability_corrs_complete_obs_drops_nan(spark):
    """R cor(use='complete.obs') drops NaN rows (is.na(NaN) is TRUE):
    a QB whose every cpoe is NA gets cpoe = NaN in the panel (the
    all-NA pin) and must be EXCLUDED from the cpoe stability corr —
    Spark's raw corr would return NaN for the whole grid cell."""
    import math

    from nfl_data_pipeline_spark.plans import epa_panel

    rows = []
    for season in (2020, 2021):
        for qb, cpoe in (("D", None), ("E", 2.5 + season % 7)):
            for p_ in range(1, 40):
                rows.append((
                    f"g{season}{qb}", float(p_), qb, f"{qb}.Player",
                    season, "REG", 1, 0, 1, 1, 0, 0,
                    0.1 * (season - 2019), 0.1 * (season - 2019),
                    8.0, 1, "pass", cpoe,
                ))
    pbp = spark.createDataFrame(
        rows,
        "game_id string, play_id double, id string, name string,"
        " season int, season_type string, pass int, rush int,"
        " incomplete_pass int, complete_pass int, interception int,"
        " pass_touchdown int, epa double, qb_epa double,"
        " yards_gained double, success int, play_type string,"
        " cpoe double",
    ).withColumn("down", F.lit(1)).withColumn("posteam", F.lit("SEA"))
    qbr = spark.createDataFrame(
        [], "season int, team string, name_first string, name_last string,"
        " player_id string, qb_plays int, qbr_total double"
    )
    pc = spark.createDataFrame(
        [], "season int, posteam string, week int, off_play_caller string"
    )
    panel = epa_panel.build_panel(pbp, qbr, pc, min_plays=5, min_dropbacks=5)
    pdf = panel.toPandas().set_index(["id", "season"])
    assert math.isnan(pdf.loc[("D", 2021), "cpoe"])  # the all-NA pin
    corrs = {
        r["metric"]: r for r in epa_panel.stability_corrs(panel).collect()
    }
    # QB D's NaN rows are dropped: only QB E's one (2020, 2021) pair
    # remains, and the corr is not NaN-polluted
    assert corrs["cpoe"]["n_pairs"] == 1
    c = corrs["cpoe"]["yoy_corr"]
    assert c is None or not math.isnan(c)


def test_stability_corr_constant_metric_is_null_not_nan(spark):
    """R's cor of a zero-variance series is NA — Spark corr yields
    0/0 = NaN; the grid must map it to NULL (constant metrics are
    routine: e.g. ints = 0 for every QB-season on a clean slate)."""
    from nfl_data_pipeline_spark.plans import epa_panel

    rows = []
    for season in (2020, 2021):
        for qb in ("A", "B"):
            for p_ in range(1, 40):
                rows.append((
                    f"g{season}{qb}", float(p_), qb, f"{qb}.QB",
                    season, "REG", 1, 0, 1, 1, 0, 0,
                    0.1 * (season - 2019) * (2 if qb == "A" else 3),
                    0.1 * (season - 2019) * (2 if qb == "A" else 3),
                    8.0, 1, "pass", 1.0,
                ))
    pbp = spark.createDataFrame(
        rows,
        "game_id string, play_id double, id string, name string,"
        " season int, season_type string, pass int, rush int,"
        " incomplete_pass int, complete_pass int, interception int,"
        " pass_touchdown int, epa double, qb_epa double,"
        " yards_gained double, success int, play_type string,"
        " cpoe double",
    ).withColumn("down", F.lit(1)).withColumn("posteam", F.lit("SEA"))
    qbr = spark.createDataFrame(
        [], "season int, team string, name_first string, name_last string,"
        " player_id string, qb_plays int, qbr_total double"
    )
    pc = spark.createDataFrame(
        [], "season int, posteam string, week int, off_play_caller string"
    )
    panel = epa_panel.build_panel(pbp, qbr, pc, min_plays=5, min_dropbacks=5)
    corrs = {
        r["metric"]: r for r in epa_panel.stability_corrs(panel).collect()
    }
    # ints is 0 for every QB-season (no interceptions planted):
    # zero variance → R's NA → NULL here, never NaN
    assert corrs["ints"]["n_pairs"] == 2
    assert corrs["ints"]["yoy_corr"] is None
    # a varying metric still correlates normally
    assert corrs["epa_play"]["yoy_corr"] is not None


# ---------------------------------------------------------------------------
# epa_panel — the reference's three correlation-grid tables
# (R/epa_predict.R:270-292 main, :430-455 switchers, :513-543 new
# playcaller) and the stability-over-time figure frames (:361-376)
# ---------------------------------------------------------------------------


def _pandas_grid(frame_pdf, rows):
    """Independent recompute of a Stability/epa grid over an already-
    filtered frame: complete.obs per cell (NaN == missing), NULL when
    fewer than 2 complete pairs or zero variance — R's cor contract."""

    def cor(x, y, m):
        if int(m.sum()) < 2:
            return None
        v = np.corrcoef(x[m], y[m])[0, 1]
        return None if np.isnan(v) else float(v)

    out = {}
    e = frame_pdf["epa_per_play"].astype(float)
    for label, cur_c, lag_c in rows:
        c = frame_pdf[cur_c].astype(float)
        lag = frame_pdf[lag_c].astype(float)
        ms = c.notna() & lag.notna()
        me = e.notna() & lag.notna()
        out[label] = (
            cor(c, lag, ms),
            cor(e, lag, me),
            int(ms.sum()),
            int(me.sum()),
        )
    return out


def _assert_grid_matches(got_df, want, labels):
    got = {r["metric"]: r for r in got_df.collect()}
    assert list(got) == list(labels)  # stack preserves row order
    for label in labels:
        g, w = got[label], want[label]
        for gv, wv, col in (
            (g["stability"], w[0], "stability"),
            (g["epa"], w[1], "epa"),
        ):
            if wv is None:
                assert gv is None, (label, col, gv)
            else:
                assert gv == pytest.approx(wv, rel=1e-9), (label, col)
        assert g["n_stability"] == w[2], label
        assert g["n_epa"] == w[3], label


def test_reference_grid_golden(nfl):
    """The main t grid (:270-292) on the fixture panel vs a pandas
    recompute over the lqb frame (post-!is.na(lepa)), plus the
    :297-306 table form (volume rows dropped, arrange(-epa))."""
    panel = epa_panel.build_panel(
        nfl["cleaned_pbp"],
        nfl["qbr"],
        nfl["playcallers"],
        sis=nfl["sis"],
        grades=nfl["pff_qb_grades"],
        war=nfl["war"],
    )
    pdf = panel.toPandas()
    lqb = pdf[pdf["lag_epa_per_play"].notna()]
    want = _pandas_grid(lqb, epa_panel.GRID_ROWS)
    _assert_grid_matches(
        epa_panel.reference_grid(panel),
        want,
        [r[0] for r in epa_panel.GRID_ROWS],
    )

    t = epa_panel.reference_grid(panel, table=True).toPandas()
    assert set(t["metric"]) == set(r[0] for r in epa_panel.GRID_ROWS) - set(
        epa_panel.GRID_TABLE_DROP
    )
    vals = t["epa"].tolist()
    assert vals == sorted(vals, key=lambda v: -float("inf") if v is None else v, reverse=True)


def _grid_pbp_rows(qb_teams, n_plays=10, short=()):
    """Deterministic multi-team pbp rows: qb_teams maps qb id →
    {season: posteam}; (qb, season) keys in `short` get 3 plays
    (below every gate used here)."""
    rows = []
    for qb, seasons in sorted(qb_teams.items()):
        for season, team in sorted(seasons.items()):
            n = 3 if (qb, season) in short else n_plays
            for p in range(1, n + 1):
                epa = 0.1 * ((season * 7 + ord(qb[0]) * 3 + p * 5) % 11 - 5)
                rows.append((
                    f"g{season}{qb}", float(p), qb, f"{qb}.Player",
                    season, "REG", 1, 0,
                    0, 1, 1 if p == 3 else 0, 1 if p == 5 else 0,
                    epa, epa + 0.01 * (p % 3),
                    float(p % 12), 1 if epa > 0 else 0, "pass",
                    0.5 * ((season + p) % 7 - 3),
                    1, team,
                ))
    return rows


_GRID_PBP_SCHEMA = (
    "game_id string, play_id double, id string, name string,"
    " season int, season_type string, pass int, rush int,"
    " incomplete_pass int, complete_pass int, interception int,"
    " pass_touchdown int, epa double, qb_epa double,"
    " yards_gained double, success int, play_type string, cpoe double,"
    " down int, posteam string"
)

_EMPTY_QBR = (
    "season int, team string, name_first string, name_last string,"
    " player_id string, qb_plays int, qbr_total double"
)
_EMPTY_PC = "season int, posteam string, week int, off_play_caller string"


def test_reference_grid_excludes_prior_subgate_pff_season(spark):
    """The judge-prescribed lqb golden (R/epa_predict.R:261-263): a
    QB whose FIRST panel season follows a PFF-graded season that
    missed the play gate has lag_grade non-null (source-side lag by
    pff_id, :130-135) on a null-lepa row — R's filter(!is.na(lepa))
    drops it from every grid cell; the unfiltered panel would have
    counted it. Also pins cor with exactly ONE complete pair (the
    PFF WAR cell) to NULL, R's NA."""
    qb_teams = {
        "G": {2020: "AAA", 2021: "AAA"},  # 2020 under the gate
        "H": {2020: "BBB", 2021: "BBB"},
        "J": {2020: "CCC", 2021: "CCC"},
    }
    pbp = spark.createDataFrame(
        _grid_pbp_rows(qb_teams, short={("G", 2020)}), _GRID_PBP_SCHEMA
    )
    grades = spark.createDataFrame(
        [
            (s, f"{qb}ary Player", 7100 + i, 60.0 + i * 5 + (s - 2020) * 3,
             55.0 + i * 4 + (s - 2020) * 2, "City")
            for i, qb in enumerate(["G", "H", "J"])
            for s in (2020, 2021)
        ],
        "season int, player string, player_id int, grades_offense double,"
        " grades_pass double, team_name string",
    )
    # WAR for H only, both seasons → exactly one complete lag pair
    war = spark.createDataFrame(
        [(2020, "Hary Player", 7101, 500, 1.5), (2021, "Hary Player", 7101, 520, 2.0)],
        "season int, player string, player_id int, snaps int, war double",
    )
    qbr = spark.createDataFrame([], _EMPTY_QBR)
    pc = spark.createDataFrame([], _EMPTY_PC)
    panel = epa_panel.build_panel(
        pbp, qbr, pc, grades=grades, war=war, min_plays=5, min_dropbacks=4
    )
    pdf = panel.toPandas()
    # the planted edge is live: G's 2021 row has the source lag but
    # no panel lag (2020 was gated out)...
    g_row = pdf[(pdf["id"] == "G") & (pdf["season"] == 2021)].iloc[0]
    assert pd.notna(g_row["lag_grade"]) and pd.isna(g_row["lag_epa_per_play"])
    # ...so the UNFILTERED panel has 3 grade pairs, the lqb frame 2
    unfiltered = int((pdf["grade"].notna() & pdf["lag_grade"].notna()).sum())
    assert unfiltered == 3
    got = {r["metric"]: r for r in epa_panel.reference_grid(panel).collect()}
    assert got["PFF Offense grade"]["n_stability"] == 2
    lqb = pdf[pdf["lag_epa_per_play"].notna()]
    want = _pandas_grid(lqb, epa_panel.GRID_ROWS)
    _assert_grid_matches(
        epa_panel.reference_grid(panel), want, [r[0] for r in epa_panel.GRID_ROWS]
    )
    # one complete WAR pair (H 2021): R's cor over one pair is NA
    assert got["PFF WAR"]["n_stability"] == 1
    assert got["PFF WAR"]["stability"] is None


def test_switchers_grid_golden(spark):
    """The team-switchers t2 (:430-455): lqb filtered
    posteam != lag_posteam — first panel seasons (NULL lag_posteam)
    drop like R's NA comparison; stay-home QB-seasons drop; the grid
    matches a pandas recompute over exactly the switch rows."""
    qb_teams = {
        "A": {2020: "AAA", 2021: "BBB", 2022: "BBB", 2023: "CCC"},
        "B": {2020: "DDD", 2021: "DDD", 2022: "DDD", 2023: "DDD"},
        "C": {2020: "EEE", 2021: "FFF", 2022: "GGG", 2023: "HHH"},
    }
    pbp = spark.createDataFrame(_grid_pbp_rows(qb_teams), _GRID_PBP_SCHEMA)
    qbr = spark.createDataFrame([], _EMPTY_QBR)
    pc = spark.createDataFrame([], _EMPTY_PC)
    panel = epa_panel.build_panel(pbp, qbr, pc, min_plays=5, min_dropbacks=4)
    sw = epa_panel.switchers_frame(panel).toPandas()
    want_rows = {("A", 2021), ("A", 2023), ("C", 2021), ("C", 2022), ("C", 2023)}
    assert set(zip(sw["id"], sw["season"])) == want_rows

    rows = [r for r in epa_panel.GRID_ROWS if r[0] in epa_panel.SWITCHER_GRID_LABELS]
    want = _pandas_grid(sw, rows)
    _assert_grid_matches(
        epa_panel.switchers_grid(panel), want, [r[0] for r in rows]
    )


def test_new_playcaller_frame_chained_shadowing(spark):
    """The new-playcaller filter (:513-522) chains from the
    REASSIGNED lqb (:430 switchers frame), so: (a) a same-team
    new_pc=1 QB-season — which the naive original-frame reading
    would keep — is absent (it was never a switch row); (b) each
    QB's FIRST switch row drops (fresh dplyr::lag(posteam) over the
    filtered frame is NA); (c) survivors are switch rows whose team
    differs from the QB's PREVIOUS switch row's team."""
    qb_teams = {
        # A: switches 2021, 2022, 2024; same-team new_pc season 2023
        "A": {2020: "AAA", 2021: "BBB", 2022: "CCC", 2023: "CCC", 2024: "DDD"},
        # B: never switches; new playcaller 2022 (naive reading keeps
        # B-2022 — the chained semantics never see it)
        "B": {s: "EEE" for s in range(2020, 2025)},
        # C: switches every season
        "C": {2020: "FFF", 2021: "GGG", 2022: "HHH", 2023: "III", 2024: "JJJ"},
    }
    pbp = spark.createDataFrame(_grid_pbp_rows(qb_teams), _GRID_PBP_SCHEMA)
    qbr = spark.createDataFrame([], _EMPTY_QBR)
    # CCC changes caller in 2023 (A's same-team season), EEE in 2022
    pc_rows = []
    teams = {t for m in qb_teams.values() for t in m.values()}
    for t in sorted(teams):
        for s in range(2020, 2025):
            caller = f"{t}_pc1"
            if t == "CCC" and s >= 2023:
                caller = f"{t}_pc2"
            if t == "EEE" and s >= 2022:
                caller = f"{t}_pc2"
            pc_rows.append((s, t, 1, caller))
    pc = spark.createDataFrame(pc_rows, _EMPTY_PC)
    panel = epa_panel.build_panel(pbp, qbr, pc, min_plays=5, min_dropbacks=4)
    pdf = panel.toPandas()
    # the naive discriminators are live on the panel: new_pc == 1 on
    # both same-team seasons
    assert pdf.set_index(["id", "season"]).loc[("A", 2023), "new_pc"] == 1
    assert pdf.set_index(["id", "season"]).loc[("B", 2022), "new_pc"] == 1

    got = epa_panel.new_playcaller_frame(panel).toPandas()
    got_rows = set(zip(got["id"], got["season"]))
    # chained recompute in pandas over the switchers frame
    lqb = pdf[pdf["lag_epa_per_play"].notna()].sort_values(["id", "season"])
    sw = lqb[
        lqb["lag_posteam"].notna() & (lqb["posteam"] != lqb["lag_posteam"])
    ].copy()
    fresh = sw.groupby("id")["posteam"].shift(1)
    arm1 = (sw["new_pc"] == 1) & (sw["posteam"] == fresh)
    arm2 = fresh.notna() & (sw["posteam"] != fresh)
    keep = (arm1 | arm2) & sw["lag_epa_per_play"].notna() & (sw["season"] >= 2012)
    want_rows = set(zip(sw.loc[keep, "id"], sw.loc[keep, "season"]))
    assert got_rows == want_rows
    # the hand-derived expectation: A's first switch row (2021) and
    # C's (2021) drop; the same-team new_pc rows never appear
    assert got_rows == {("A", 2022), ("A", 2024), ("C", 2022), ("C", 2023), ("C", 2024)}

    rows = [r for r in epa_panel.GRID_ROWS if r[0] in epa_panel.SWITCHER_GRID_LABELS]
    want = _pandas_grid(sw[keep], rows)
    _assert_grid_matches(
        epa_panel.new_playcaller_grid(panel), want, [r[0] for r in rows]
    )
    # the :522 season gate is live
    assert epa_panel.new_playcaller_frame(panel, min_season=2024).toPandas()[
        "season"
    ].tolist() == [2024, 2024]


def test_per_season_cross_corrs_golden(nfl):
    """The figure frames a and b (:361-376): per-season cor of
    epa_per_play with six lagged measures (a) and the late-coverage
    SIS cell (b), recomputed in pandas per season group."""
    panel = epa_panel.build_panel(
        nfl["cleaned_pbp"],
        nfl["qbr"],
        nfl["playcallers"],
        sis=nfl["sis"],
        grades=nfl["pff_qb_grades"],
        war=nfl["war"],
    )
    pdf = panel.toPandas()
    lqb = pdf[pdf["lag_epa_per_play"].notna()]

    def cor(sub, a, b):
        x, y = sub[a].astype(float), sub[b].astype(float)
        m = x.notna() & y.notna()
        if int(m.sum()) < 2:
            return None
        v = np.corrcoef(x[m], y[m])[0, 1]
        return None if np.isnan(v) else float(v)

    cells = {
        "c_epa": "lag_epa_per_play",
        "c_qbr": "lag_qbr_logit",
        "c_index": "lag_index",
        "c_cpoe": "lag_cpoe",
        "c_pff": "lag_grade",
        "c_war": "lag_war_per_play",
    }
    got = {
        r["season"]: r
        for r in epa_panel.per_season_cross_corrs(panel).collect()
    }
    frame = lqb[lqb["season"] > 2006]
    assert set(got) == set(frame["season"].unique())
    for season, sub in frame.groupby("season"):
        for alias, lag_c in cells.items():
            w = cor(sub, "epa_per_play", lag_c)
            g = got[season][alias]
            if w is None:
                assert g is None, (season, alias)
            else:
                assert g == pytest.approx(w, rel=1e-9), (season, alias)

    got_b = {
        r["season"]: r["c_tpp"]
        for r in epa_panel.per_season_tpp_corr(panel, min_season=2021).collect()
    }
    frame_b = lqb[lqb["season"] >= 2021]
    assert set(got_b) == set(frame_b["season"].unique())
    for season, sub in frame_b.groupby("season"):
        w = cor(sub, "epa_per_play", "lag_tpp")
        if w is None:
            assert got_b[season] is None
        else:
            assert got_b[season] == pytest.approx(w, rel=1e-9)


def test_pff_name_keyed_minshew_repair(spark):
    """The PFF case_when's NAME-keyed arm (R/epa_predict.R:120-126):
    a built "G.Minshew" becomes "G.Minshew II" on the grades frame —
    keyed by the built name, not by player id."""
    grades = spark.createDataFrame(
        [
            (2020, "Gardner Minshew", 7200, 71.0, 70.0, "City"),
            (2020, "Other Guy", 7201, 60.0, 61.0, "City"),
        ],
        "season int, player string, player_id int, grades_offense double,"
        " grades_pass double, team_name string",
    )
    war = spark.createDataFrame(
        [], "season int, player string, player_id int, snaps int, war double"
    )
    names = {
        r["pff_id"]: r["name"]
        for r in epa_panel.pff_combined(grades, war).collect()
    }
    assert names[7200] == "G.Minshew II"
    assert names[7201] == "O.Guy"


def test_qb_seasons_strict_aggregates(spark):
    """R's summarize defaults are STRICT (R/epa_predict.R:205-211):
    the :196 filter only guarantees the ORIGINAL epa non-NA, but the
    means/sums run on `epa = qb_epa` (:198) — one NA qb_epa play NAs
    epa_per_play/adj_epa/total_epa for the whole QB-season (cpoe
    alone opts into na.rm, :210). The ya sums (:181-183) are strict
    too: one NA yards_gained NAs yards and aya."""
    rows = []
    for qb in ("A", "B"):
        for p_ in range(1, 12):
            # A's play 4: epa present, qb_epa NA (the live edge);
            # A's play 6: yards_gained NA on a counted pass attempt
            qb_epa = None if (qb == "A" and p_ == 4) else 0.1 * p_
            yg = None if (qb == "A" and p_ == 6) else float(p_)
            rows.append((
                f"g{qb}", float(p_), qb, f"{qb}.QB", 2021, "REG", 1, 0,
                0, 1, 0, 0, 0.2, qb_epa, yg, 1, "pass", 1.0, 1, "SEA",
            ))
    pbp = spark.createDataFrame(rows, _GRID_PBP_SCHEMA)
    qbr = spark.createDataFrame([], _EMPTY_QBR)
    pc = spark.createDataFrame([], _EMPTY_PC)
    panel = epa_panel.build_panel(pbp, qbr, pc, min_plays=5, min_dropbacks=4)
    pdf = panel.toPandas().set_index("id")
    a, b = pdf.loc["A"], pdf.loc["B"]
    # strict: the single NA qb_epa play NAs A's season aggregates
    assert pd.isna(a["epa_per_play"]) and pd.isna(a["epa_play"])
    assert pd.isna(a["total_epa"])
    # but the row still exists, counts all plays, and cpoe is na.rm
    assert a["n_plays"] == 11 and a["n_dropbacks"] == 11
    assert a["cpoe"] == pytest.approx(1.0)
    # ya strict sums: A's NA yards_gained NAs yards and aya; the
    # pure-count n and the complete ints/tds sums survive
    assert pd.isna(a["yards"]) and pd.isna(a["aya"])
    assert a["ints"] == 0 and a["n"] == 11
    # B (complete) keeps ordinary values
    assert b["epa_per_play"] == pytest.approx(sum(0.1 * p for p in range(1, 12)) / 11)
    assert b["total_epa"] == pytest.approx(sum(0.1 * p for p in range(1, 12)))
    assert b["yards"] == pytest.approx(sum(range(1, 12)))


def test_team_pass_oe_drops_unscoreable_rows(spark, nfl):
    """filter(!is.na(pass_oe)) runs before the team summarize
    (R/pass_rate_over_expected.R:21-24): a play the xpass model
    can't score (NULL wp here) must not reach n_plays or the means."""
    from nfl_data_pipeline_spark.plans import pass_rate_oe

    pbp = nfl["cleaned_pbp"]
    base = pass_rate_oe.add_xpass(pbp)
    n_unscoreable = base.filter(
        F.col("pass_oe").isNull() & (F.col("down") <= 2)
    ).count()
    out = pass_rate_oe.team_pass_oe(pbp, nfl["teams"]).toPandas()
    scored = base.filter(F.col("pass_oe").isNotNull() & (F.col("down") <= 2))
    per_team = scored.groupBy("posteam").count().toPandas()
    want = dict(zip(per_team["posteam"], per_team["count"]))
    got = dict(zip(out["posteam"], out["n_plays"]))
    assert got == want
    # NULL-wp rows exist upstream in principle; whether or not the
    # fixture plants one, the filtered count equality above IS the
    # contract (n_unscoreable == 0 just means the edge is idle here)
    assert n_unscoreable >= 0


def test_panel_join_matches_na_names_like_dplyr(spark):
    """The r9 NA-join-key audit's live case: every panel name key is
    BUILT (first() / concat / separate), so it can be NA on both
    sides — dplyr's default na_matches='na' MATCHES those rows
    (R/epa_predict.R:215 ya leg), where a plain SQL equi-join would
    return NULL ya columns. Plant a QB-season whose every pass
    attempt has a NULL passer name: base and ya both build name=NULL
    for the same (id, season), and the join must still carry the ya
    counts across."""
    rows = []
    for qb, name in (("A", None), ("B", "B.QB")):
        for p_ in range(1, 12):
            rows.append((
                f"g{qb}", float(p_), qb, name, 2021, "REG", 1, 0,
                0, 1, 0, 0, 0.2, 0.1 * p_, float(p_), 1, "pass", 1.0,
                1, "SEA",
            ))
    pbp = spark.createDataFrame(rows, _GRID_PBP_SCHEMA)
    qbr = spark.createDataFrame([], _EMPTY_QBR)
    pc = spark.createDataFrame([], _EMPTY_PC)
    panel = epa_panel.build_panel(pbp, qbr, pc, min_plays=5, min_dropbacks=4)
    pdf = panel.toPandas().set_index("id")
    a = pdf.loc["A"]
    assert pd.isna(a["name"])  # the NA key is real on the base side
    # dplyr semantics: the NA-named ya row still joins by (id, NA, season)
    assert a["yards"] == pytest.approx(sum(range(1, 12)))
    assert a["n"] == 11
    assert pdf.loc["B", "yards"] == pytest.approx(sum(range(1, 12)))


def test_playcaller_extend_season_hand_repair(nfl):
    """The reference's missing-season hand-repair
    (R/epa_predict.R:38-53): every team gets a synthetic 'new'
    caller at extend_season; same_pc teams take their previous
    caller instead (new_pc 0), the rest read a change (new_pc 1);
    a collision with a REAL season raises instead of duplicating
    join keys."""
    pc = epa_panel.playcaller_mode(
        nfl["playcallers"], extend_season=2023, same_pc=("SEA", "KC")
    ).toPandas()
    ext = pc[pc["season"] == 2023].set_index("posteam")["new_pc"]
    assert ext.loc["SEA"] == 0 and ext.loc["KC"] == 0
    others = ext.drop(["SEA", "KC"])
    assert (others == 1).all()
    # pre-existing seasons unchanged by the synthesis
    assert (pc[pc["season"] == 2022]["new_pc"] == 1).all()
    with pytest.raises(ValueError, match="extend_season=2022"):
        epa_panel.playcaller_mode(nfl["playcallers"], extend_season=2022)


def test_recent_switchers_projections(spark):
    """:505-509 and :593-598 — the list prints read whichever lqb
    reassignment is live: the switchers frame vs the chained
    playcaller frame."""
    qb_teams = {
        "A": {2020: "AAA", 2021: "BBB", 2022: "CCC", 2023: "DDD"},
        "B": {s: "EEE" for s in range(2020, 2024)},
    }
    pbp = spark.createDataFrame(_grid_pbp_rows(qb_teams), _GRID_PBP_SCHEMA)
    qbr = spark.createDataFrame([], _EMPTY_QBR)
    pc = spark.createDataFrame([], _EMPTY_PC)
    panel = epa_panel.build_panel(pbp, qbr, pc, min_plays=5, min_dropbacks=4)
    # min_season=2021 makes the flag DISCRIMINATING (review fix):
    # the switchers frame includes A's first switch row (2021), the
    # chained playcaller frame drops it (fresh lag is NA there)
    sw = epa_panel.recent_switchers(panel, min_season=2021).toPandas()
    assert list(zip(sw["name"], sw["season"])) == [
        ("A.Player", 2021), ("A.Player", 2022), ("A.Player", 2023)
    ]
    assert list(sw.columns) == ["name", "season", "posteam", "lag_posteam"]
    pcw = epa_panel.recent_switchers(
        panel, min_season=2021, after_playcaller_filter=True
    ).toPandas()
    assert list(pcw["season"]) == [2022, 2023]  # 2021 dropped


def test_initial_dot_last_na_string_coercion(spark):
    """R's glue/paste0 render NA as the literal "NA": a single-token
    player name separates to last = NA and builds "C.NA"; a NULL
    source name builds "NA.NA". The built name is NEVER NULL in R —
    so these frames can't NA-match the base panel's genuinely-NULL
    name keys under the dplyr join semantics."""
    sis = spark.createDataFrame(
        [
            ("Cher", 1, 2021, 5.0, 0.1, 2.0),
            (None, 2, 2021, 6.0, 0.2, 3.0),
            ("Two Tokens", 3, 2021, 7.0, 0.3, 4.0),
            ("Three Token Name", 4, 2021, 8.0, 0.4, 5.0),
        ],
        "player_name string, player_id int, season int,"
        " total_points double, total_points_per_play double, iqr double",
    )
    names = {
        r["sis_id"]: r["name"]
        for r in epa_panel.clean_sis(sis, min_season=2016).collect()
    }
    assert names == {1: "C.NA", 2: "NA.NA", 3: "T.Tokens", 4: "T.Token"}


def test_draft_split_two_column_layout(nfl, spark):
    """The gt two-column bind (:105-110): top rows beside the rest,
    right half padded with blank strings / NULL numerics."""
    devig = draft_odds.remove_vig(draft_odds.parse_odds(nfl["dk_draft_odds"]))
    wide = draft_odds.pivot_under_over(devig).toPandas().sort_values("pick_dk")
    espn = spark.createDataFrame(
        [
            (p, "EDGE", k, pr)
            for i, p in enumerate(wide["player"])
            for k, pr in [
                (int(wide["pick_dk"].iloc[i] - 0.5), 0.6),
                (int(wide["pick_dk"].iloc[i] + 0.5), 0.4),
            ]
        ],
        "player string, pos string, espn_pick int, espn_prob double",
    )
    t = draft_odds.edge_table(
        draft_odds.join_espn_dk(espn, draft_odds.pivot_under_over(devig))
    )
    n = t.count()
    n_left = (n + 1) // 2
    lay = draft_odds.split_two_column(
        t, order_by=[F.desc("diff"), F.asc("player")], n_left=n_left
    ).toPandas()
    assert len(lay) == n_left
    flat = list(lay["player_l"]) + [
        v for v in lay["player_r"] if v != " "
    ]
    want = t.orderBy(F.desc("diff"), F.asc("player")).toPandas()["player"]
    assert flat == list(want)
    # pad row: blank string, NULL numeric
    if 2 * n_left > n:
        assert lay["player_r"].iloc[-1] == " "
        assert pd.isna(lay["diff_r"].iloc[-1])


def test_team_name_fn_map_and_sites(spark):
    """nflfastR:::team_name_fn parity (pff/0_scrape.R:57;
    R/preseason_predictiveness.R:63,79,105): the pinned historical
    map, identity fallback, NULL passthrough, and the clean stage's
    None-means-canonical default."""
    from nfl_data_pipeline_spark.plans import pff_grades

    df = spark.createDataFrame(
        [("OAK",), ("SD",), ("JAC",), ("HST",), ("SEA",), (None,)],
        "team_abbr string",
    ).select(pff_grades.team_name_fn("team_abbr").alias("t"))
    got = [r["t"] for r in df.collect()]
    assert got == ["LV", "LAC", "JAX", "HOU", "SEA", None]

    raw = spark.createDataFrame(
        [(3, "OAK", 70.0), (3, "STL", 60.0), (3, "SEA", 50.0)],
        "week int, team_abbr string, grades_pass_block double",
    )
    # default (None) applies the reference map; {} disables
    assert set(
        r["team_abbr"]
        for r in pff_grades.clean_week_panel(raw).collect()
    ) == {"LV", "LA", "SEA"}
    assert set(
        r["team_abbr"]
        for r in pff_grades.clean_week_panel(raw, {}).collect()
    ) == {"OAK", "STL", "SEA"}


def test_preseason_team_name_fn_alignment(spark):
    """R/preseason_predictiveness.R:63,79: both join inputs pass
    through team_name_fn AFTER their aggregations, so a schedule
    carrying the era abbreviation (SD) joins the expectation row
    keyed by the modern one (LAC) — and the audit stays quiet."""
    from nfl_data_pipeline_spark.plans import preseason

    games = spark.createDataFrame(
        [
            (2020, 1, "SD", "SEA", 3.0),
            (2020, 2, "SEA", "SD", -7.0),
        ],
        "season int, week int, home_team string, away_team string,"
        " result double",
    )
    res = preseason.team_season_point_diff(games).toPandas()
    assert set(res["team_abbr"]) == {"LAC", "SEA"}
    assert (
        res.set_index("team_abbr").loc["LAC", "diff"] == 10.0
    ), "SD legs must aggregate then rename like R's post-summarise mutate_at"

    wide = spark.createDataFrame(
        [("LAC", 8.5), ("SEA", 9.5), ("SD", 7.5)],
        "team_abbr string, x20 double",
    )
    joined = preseason.expectations_vs_actuals(
        wide, games, ["x20"], 2000
    ).toPandas()
    # the SD expectation row normalizes to LAC too (:63), so BOTH
    # expectation rows match the renamed results row — R duplicates
    # the same way
    lac = joined[joined["team_abbr"] == "LAC"]
    assert len(lac) == 2 and lac["diff"].eq(10.0).all()
    audit = preseason.audit_unmatched(
        preseason.expectations_vs_actuals(wide, games, ["x20"], 2000)
    ).toPandas()
    assert audit.empty

    # ps_diff side (:105) normalizes before its join
    ps = spark.createDataFrame(
        [("SD", 2020, "12"), ("SEA", 2020, "-3")],
        "team_abbr string, season int, ps_point_diff string",
    )
    full = preseason.expectations_vs_actuals(
        wide, games, ["x20"], 2000, ps_diff=ps
    ).toPandas()
    assert (
        full[full["team_abbr"] == "LAC"]["ps_point_diff"].eq(12.0).all()
    )


def test_espn_pff_block_chain(spark):
    """pff/99_passblock_piece.R:26-73: the espn PBWR chain (text wr →
    per-season strict rescale → team_name_fn) full-joined to the pff
    side (NOT re-normalized — the asymmetry at :53 vs :56-68), plus
    the :73 label."""
    espn_raw = spark.createDataFrame(
        [
            ("OAK", 2019, "60"),
            ("SEA", 2019, "40"),
            ("SF", 2019, "50"),
            ("SEA", 2021, "55"),
            ("SF", 2021, "45"),
        ],
        "posteam string, season int, wr string",
    )
    espn = pass_block.espn_win_rates(espn_raw).toPandas()
    got = {
        (r["posteam"], r["season"]): r["wr"] for _, r in espn.iterrows()
    }
    # 2019: min 40 max 60 → OAK(→LV)=100, SEA=0, SF=50
    assert got[("LV", 2019)] == pytest.approx(100.0)
    assert got[("SEA", 2019)] == pytest.approx(0.0)
    assert got[("SF", 2019)] == pytest.approx(50.0)
    assert ("OAK", 2019) not in got

    pff_raw = spark.createDataFrame(
        [
            ("OAK", 2019, 80.0),
            ("SEA", 2019, 70.0),
            ("SF", 2019, 75.0),
            ("SEA", 2018, 99.0),
        ],
        "team_abbr string, season int, grades_pass_block double",
    )
    pff = pass_block.pff_block_grades(pff_raw).toPandas()
    # season >= 2019 filter; OAK NOT renamed on this side
    assert set(pff["season"]) == {2019}
    assert set(pff["posteam"]) == {"OAK", "SEA", "SF"}

    joined = pass_block.pbwr_vs_grade(
        pass_block.espn_win_rates(espn_raw),
        pass_block.pff_block_grades(pff_raw),
    ).toPandas()
    # full join: LV (espn-only) and OAK (pff-only) are DIFFERENT keys
    lv = joined[joined["posteam"] == "LV"]
    oak = joined[joined["posteam"] == "OAK"]
    assert len(lv) == 1 and pd.isna(lv["pb_grade"]).all()
    assert len(oak) == 1 and pd.isna(oak["wr"]).all()
    assert set(joined[joined["season"] == 2021]["label"]) == {
        "SEA21",
        "SF21",
    }


def test_grouped_rescale_strict_na_poisoning(spark):
    """pff/99_passblock_piece.R:45-50,228-233: the rescale mutates
    use min()/max() WITHOUT na.rm — one NA NAs the whole group —
    where SQL MIN/MAX skip NULLs. strict=True pins R."""
    from nfl_data_pipeline_spark.operators.relational import (
        grouped_rescale,
    )

    df = spark.createDataFrame(
        [(2019, 10.0), (2019, None), (2019, 20.0), (2020, 5.0), (2020, 15.0)],
        "season int, g double",
    )
    strict = grouped_rescale(
        df, ["season"], "g", "s", strict=True
    ).toPandas()
    assert strict[strict["season"] == 2019]["s"].isna().all()
    ok = strict[strict["season"] == 2020].set_index("g")["s"]
    assert ok[5.0] == pytest.approx(0.0) and ok[15.0] == pytest.approx(100.0)
    loose = grouped_rescale(df, ["season"], "g", "s").toPandas()
    sub = loose[(loose["season"] == 2019) & loose["g"].notna()]
    assert sub["s"].notna().all()


def test_pass_rate_gauge_strict_min_max(spark):
    """R/let_russ_cook.R:108-110: min/max over the team means have no
    na.rm — ONE team whose strict mean(pass) is NA (a NULL pass
    indicator, :106) NAs EVERY team's gauge, where SQL MIN/MAX would
    skip the null team and quietly rescale the rest."""
    rows = [
        (1, 0.5, 500.0, "SEA", "SF", 0, 1, 1, 2020),
        (2, 0.5, 500.0, "SEA", "SF", 1, 0, 1, 2020),
        (1, 0.5, 500.0, "SF", "SEA", 0, 1, 1, 2020),
        # the poisoning row: NULL pass indicator for DAL (week 1)
        (1, 0.5, 500.0, "DAL", "GB", 0, None, 1, 2020),
        # week 2 is complete: SEA 0.0 vs GB 1.0
        (1, 0.5, 500.0, "SEA", "GB", 1, 0, 2, 2020),
        (2, 0.5, 500.0, "GB", "SEA", 0, 1, 2, 2020),
    ]
    pbp = spark.createDataFrame(
        rows,
        "down int, wp double, half_seconds_remaining double,"
        " posteam string, defteam string, rush int, pass int,"
        " week int, season int",
    ).withColumn("epa", F.lit(0.1))
    out = let_russ_cook.team_pass_rates(pbp).toPandas()
    assert out["gauge"].isna().all(), "one NA team rate must NA every gauge"
    assert (
        out.set_index("posteam")["pass_rate"].isna()["DAL"]
        and out.set_index("posteam")["pass_rate"].notna()["SEA"]
    )
    # weekly variant: week 1 (contains DAL's NA) fully poisoned,
    # week 2 (complete) rescales normally
    wk = let_russ_cook.weekly_pass_rates(pbp, "SEA").toPandas()
    byweek = wk.set_index("week")
    assert pd.isna(byweek.loc[1, "gauge"])
    assert byweek.loc[2, "gauge"] == pytest.approx(0.0) or byweek.loc[
        2, "gauge"
    ] == pytest.approx(100.0)


def test_position_percentiles_na_value_ranks_last(spark):
    """darko:106-113: arrange(-value) puts the NA-value player LAST
    and 1:n()/max(rank) COUNT that row — the denominator widens,
    unlike a pre-rank NA filter."""
    valued = spark.createDataFrame(
        [
            ("A", "T", 90.0),
            ("B", "T", 50.0),
            ("C", "T", None),
        ],
        "player string, position string, value double",
    )
    out = (
        ol_projection.position_percentiles(valued)
        .toPandas()
        .set_index("player")
    )
    assert out.loc["C", "rank"] == 3, "NA value must rank last, not drop"
    # denominators use n()=3: A → 100*(1+3-1)/3, B → 100*(1+3-2)/3
    assert out.loc["A", "pct_normed"] == pytest.approx(100.0)
    assert out.loc["B", "pct_normed"] == pytest.approx(100.0 * 2 / 3)
    assert out.loc["C", "pct_normed"] == pytest.approx(100.0 / 3)
    # downstream tiers exclude the NULL-value row and count honestly
    # (R's quantile would ERROR on the NA — declared boundary)
    tiers = ol_projection.value_tiers(
        ol_projection.position_percentiles(valued)
    ).toPandas()
    assert tiers.set_index("position").loc["T", "n"] == 2


def test_wilson_label_na_pieces_render_literally(spark):
    """R/wilson_game_pass_freq.R:48-51: if_else over a NULL operand
    is NA, and glue renders NA pieces as the literal "NA" — a NULL
    home_team game labels "NA<def><yy>", never "@..." or NULL."""
    from nfl_data_pipeline_spark.plans import wilson as wplan

    pbp = spark.createDataFrame(
        [
            # home_team NULL → home NA → home_lbl NA → "NA" piece
            ("2020_01_SEA_SF", 1, 10, "SEA", "SF", None, 0.5, 0, 1,
             0.5, "R.Wilson", 0.2, 2020, 1),
            ("2020_01_SEA_SF", 1, 20, "SEA", "SF", None, 0.5, 1, 0,
             0.5, "R.Wilson", 0.1, 2020, 1),
        ],
        "game_id string, down int, play_id int, posteam string,"
        " defteam string, home_team string, wp double, rush int,"
        " pass int, xpass double, name string, qb_epa double,"
        " season int, week int",
    )
    out = wplan.chart_frame(
        wplan.per_game_summary(pbp, "SEA")
    ).toPandas()
    assert out["home"].isna().all(), "NULL home_team must stay NA like R"
    assert out["label"].iloc[0] == "NASF20", (
        "glue coerces the NA home_lbl to the literal 'NA'"
    )


def test_qbr_per_team_golden(spark):
    """R/let_russ_cook.R:17-34: name build + Haskins repair +
    per-name strict tot_n + LAR→LA + one QB per team by total
    plays."""
    raw = spark.createDataFrame(
        [
            # two teams for R.Wilson (trade): tot_n sums ACROSS teams
            ("Russell", "Wilson", "SEA", 70.0, 300, "u1"),
            ("Russell", "Wilson", "DEN", 60.0, 200, "u1"),
            ("Geno", "Smith", "SEA", 55.0, 400, "u2"),
            ("Dwayne", "Haskins Jr.", "WSH", 30.0, 100, "u3"),
            # LAR recode
            ("Matthew", "Stafford", "LAR", 65.0, 450, "u4"),
            # strict sum: one NULL qb_plays poisons the name's tot_n
            ("Drew", "Lock", "DEN", 40.0, None, "u5"),
            ("Drew", "Lock", "SEA2", 41.0, 50, "u5x"),
        ],
        "first_name string, last_name string, team string,"
        " qbr_total double, qb_plays int, headshot_href string",
    )
    from nfl_data_pipeline_spark.plans import let_russ_cook as lrc

    out = lrc.qbr_per_team(raw).toPandas().set_index("team")
    assert out.loc["WSH", "name"] == "D.Haskins"
    assert "LA" in out.index and "LAR" not in out.index
    # SEA: Wilson tot_n = 500 (across SEA+DEN rows) > Smith 400
    assert out.loc["SEA", "name"] == "R.Wilson"
    # DEN: Lock's tot_n is NULL (strict sum, NULL qb_plays row) →
    # sorts last; Wilson (tot_n 500) wins DEN too
    assert out.loc["DEN", "name"] == "R.Wilson"
    # a team whose only QB has NULL tot_n still emits its row
    assert out.loc["SEA2", "name"] == "D.Lock"


def test_on_off_table_type2_order_rush_first(spark):
    """R/on_off_nflreadr.R:87-94: the type-2 rows come from summarize
    over group_by(split, pass) — Rush (pass=0) precedes Pass (pass=1)
    in the bound frame, and arrange(-split, type) is stable, so the
    table shows Rush BEFORE Pass within each split."""
    rows = [
        ("SEA", "SF", 1, "P1;P2", "D1;D2", 1, 0),
        ("SEA", "SF", 2, "P1;P2", "D1;D2", 0, 1),
        ("SEA", "SF", 3, "P3;P4", "D1;D2", 1, 0),
        ("SEA", "SF", 1, "P3;P4", "D1;D2", 0, 1),
    ]
    part = spark.createDataFrame(
        [
            (f"g{i}", "2022_01", 2022, 1, i, p, d, "x", op, dp,
             6, 4, dn, 0.1, ps, rs, 1.0, 1.0)
            for i, (p, d, dn, op, dp, ps, rs) in enumerate(rows)
        ],
        "game_id string, old_game_id string, season int, week int,"
        " play_id int, posteam string, defteam string, desc string,"
        " offense_players string, defense_players string,"
        " defenders_in_box int, number_of_pass_rushers int, down int,"
        " epa double, pass int, rush int, first_down double,"
        " success double",
    )
    out = onoff.on_off_table(part, "P1", "SEA").toPandas()
    for split in out["split"].unique():
        t2 = out[(out["split"] == split) & out["rowname"].isin(["Pass", "Rush"])]
        if len(t2) == 2:
            assert list(t2["rowname"]) == ["Rush", "Pass"]


def test_grid_subtitle_n_counts_graded_rows(spark):
    """R/epa_predict.R:470/:560: the subtitle count is nrow of the
    live filtered frame restricted to non-null lag_grade."""
    frame = spark.createDataFrame(
        [(1, 80.0), (2, None), (3, 75.0)],
        "id long, lag_grade double",
    )
    got = epa_panel.grid_subtitle_n(frame).collect()[0]
    assert got["n_qb_seasons"] == 2


def test_qtr_label_recode(spark):
    """R/espn_wp.R:100-103 fct_recode: quarters 1-4 get ordinal
    labels; an unmapped level (OT qtr 5 never reaches the frame, but
    fct_recode would pass it through) keeps its number."""
    out = (
        spark.range(1, 6)
        .select(espn_wp_calibration.qtr_label(F.col("id")).alias("l"))
        .collect()
    )
    assert [r["l"] for r in out] == [
        "1st Quarter", "2nd Quarter", "3rd Quarter", "4th Quarter", "5",
    ]
