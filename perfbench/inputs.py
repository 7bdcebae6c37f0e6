"""Seeded input generators for the benchmark.

Every table the benchmark feeds the package is built here, from the
``--seed`` argument alone, with numpy + pyarrow on the driver. Nothing
is taken from the package's own generators (``benchpipes.synth_pbp``,
``fixtures.build_all``), so a change to the package cannot change the
inputs it is measured on. The same seed gives byte-identical tables.

Three families:

- ``write_fixtures``: the driver-fixture star schema (region … lineitem,
  events) with the column names and parquet types the registry queries
  and their DuckDB oracles read.
- ``pbp_week`` / ``write_pbp_seasons``: NFL-shaped play-by-play, one row
  per play, keyed ``(game_id, play_id)``; the columns are a subset of
  ``schemas.CLEANED_PBP`` with the same types.
- ``curation_docs``: crawl-shard documents with planned gate failures
  (blocked hosts, non-English, short / repetitive text, gibberish) and
  exact and near duplicates, within a batch and across batches.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TEAMS = (
    "ARI ATL BAL BUF CAR CHI CIN CLE DAL DEN DET GB HOU IND JAX KC "
    "LA LAC LV MIA MIN NE NO NYG NYJ PHI PIT SEA SF TB TEN WAS"
).split()
FIRST_SEASON = 1999
WEEKS = 18  # weeks 1-17 regular season, week 18 post-season
PLAYS_PER_GAME = 80


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) & 0xFFFFFFFF for k in key])


def _choice(rng, values, n, p=None) -> pa.Array:
    """``n`` draws from ``values`` as a pyarrow string array."""
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(base.timestamp() * 1_000_000) + (seconds * 1_000_000).astype(
        np.int64
    )
    return pa.array(micros, pa.timestamp("us"))


# ---------------------------------------------------------------------------
# fixture star schema
# ---------------------------------------------------------------------------


def write_fixtures(seed: int, out_dir: str, scale: float) -> None:
    """Write the ten-table fixture layout minus the payload tables
    (documents, embeddings) under ``out_dir`` as ``<name>.parquet``,
    one file each. ``scale`` 1.0 is 6M lineitem rows (sf1)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_li = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": _choice(rng, segs, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
    }
    adjectives = ["small", "red", "blue", "large", "green", "steel", "brass"]
    nouns = ["ring", "widget", "bolt", "anvil", "gear", "spring", "valve"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in zip(
                        rng.integers(0, 7, n_part), rng.integers(0, 7, n_part)
                    )
                ],
                pa.string(),
            ),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(
                rng,
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                n_part,
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    day0 = datetime(1995, 1, 1, tzinfo=timezone.utc)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts(day0, rng.integers(0, 2404, n_ord) * 86400.0),
            "o_orderpriority": _choice(rng, prios, n_ord),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _choice(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(day0, rng.integers(1, 2500, n_li) * 86400.0),
        }
    )
    ev_secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(datetime(2024, 1, 1, tzinfo=timezone.utc), ev_secs),
            "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
            "event_type": _choice(
                rng, ["click", "error", "purchase", "signup", "view"], n_ev
            ),
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# play-by-play
# ---------------------------------------------------------------------------


def pbp_week(seed: int, season: int, week: int) -> pa.Table:
    """Every play of one week: 16 games of ``PLAYS_PER_GAME`` plays.
    A pure function of ``(seed, season, week)``, so re-generating a
    week reproduces the already-loaded rows exactly (the replayed
    games of the incremental append)."""
    rng = _rng(seed, 2, season, week)
    order = rng.permutation(len(TEAMS))
    n_games = len(TEAMS) // 2
    n = n_games * PLAYS_PER_GAME
    teams = np.asarray(TEAMS, dtype=object)
    away_ix, home_ix = order[0::2], order[1::2]
    gids = np.array(
        [f"{season}_{week:02d}_{teams[a]}_{teams[h]}" for a, h in zip(away_ix, home_ix)],
        dtype=object,
    )
    g = np.repeat(np.arange(n_games), PLAYS_PER_GAME)
    play_id = np.tile(np.arange(1, PLAYS_PER_GAME + 1) * 25.0, n_games)
    home_has_ball = rng.random(n) < 0.5
    pos_ix = np.where(home_has_ball, home_ix[g], away_ix[g])
    def_ix = np.where(home_has_ball, away_ix[g], home_ix[g])
    is_pass = rng.random(n) < 0.58
    is_play = rng.random(n) < 0.9  # the rest: kickoffs, punts, penalties
    pass_ = (is_play & is_pass).astype(np.int32)
    rush = (is_play & ~is_pass).astype(np.int32)
    play_type = np.where(
        is_play, np.where(is_pass, "pass", "run"), "no_play"
    ).astype(object)
    outcome = rng.random(n)
    complete = (pass_ == 1) & (outcome < 0.64)
    interception = (pass_ == 1) & (outcome >= 0.64) & (outcome < 0.665)
    incomplete = (pass_ == 1) & ~complete & ~interception
    yards = np.where(
        rush == 1,
        np.round(rng.normal(4.3, 5.0, n)),
        np.where(complete, np.round(rng.gamma(2.0, 5.5, n)), 0.0),
    )
    pass_td = complete & (rng.random(n) < 0.045)
    down = rng.integers(1, 5, n).astype(np.float64)
    down[~is_play] = np.nan
    epa = rng.normal(0.0, 1.4, n)
    epa[rng.random(n) < 0.01] = np.nan
    posteam = teams[pos_ix]
    posteam[rng.random(n) < 0.02] = None
    qb = pos_ix * 3 + rng.integers(0, 3, n)  # starter, backup, spot
    qb_ids = np.array([f"00-{i:07d}" for i in range(len(TEAMS) * 3)], dtype=object)
    qb_names = np.array(
        [f"Q.{t}{q}" for t in TEAMS for q in range(3)], dtype=object
    )
    home, away, defteam = teams[home_ix[g]], teams[away_ix[g]], teams[def_ix]
    qb_id, qb_name = qb_ids[qb], qb_names[qb]

    def opt_int(a: np.ndarray) -> pa.Array:
        return pa.array(a, pa.int32(), mask=np.isnan(a))

    return pa.table(
        {
            "game_id": pa.array(gids[g], pa.string()),
            "play_id": play_id,
            "season": pa.array(np.full(n, season), pa.int32()),
            "week": pa.array(np.full(n, week), pa.int32()),
            "season_type": pa.array(
                np.full(n, "REG" if week < WEEKS else "POST", dtype=object),
                pa.string(),
            ),
            "home_team": pa.array(home[g], pa.string()),
            "away_team": pa.array(away[g], pa.string()),
            "posteam": pa.array(posteam, pa.string()),
            "defteam": pa.array(defteam, pa.string()),
            "qtr": pa.array(1 + (np.arange(n) % PLAYS_PER_GAME) * 4 // PLAYS_PER_GAME, pa.int32()),
            "down": opt_int(down),
            "ydstogo": pa.array(rng.integers(1, 16, n), pa.int32()),
            "play_type": pa.array(play_type, pa.string()),
            "rush": pa.array(rush, pa.int32()),
            "pass": pa.array(pass_, pa.int32()),
            "epa": pa.array(epa, pa.float64(), mask=np.isnan(epa)),
            "wp": np.clip(rng.beta(2.0, 2.0, n), 0.01, 0.99),
            "half_seconds_remaining": np.round(rng.uniform(0, 1800, n)),
            "success": pa.array((epa > 0).astype(np.int32), pa.int32()),
            "yards_gained": yards,
            "cpoe": np.where(pass_ == 1, rng.normal(0.0, 30.0, n), np.nan),
            "incomplete_pass": pa.array(incomplete.astype(np.int32), pa.int32()),
            "complete_pass": pa.array(complete.astype(np.int32), pa.int32()),
            "interception": pa.array(interception.astype(np.int32), pa.int32()),
            "pass_touchdown": pa.array(pass_td.astype(np.int32), pa.int32()),
            "name": pa.array(qb_name, pa.string()),
            "id": pa.array(qb_id, pa.string()),
        }
    )


def write_pbp_seasons(seed: int, seasons: range, out_dir: str) -> tuple[int, int]:
    """The ``1_rebuild_db.R`` download step: one raw parquet file per
    season under ``out_dir``. Returns ``(rows, arrow_bytes)``."""
    os.makedirs(out_dir, exist_ok=True)
    rows = nbytes = 0
    for season in seasons:
        t = pa.concat_tables(
            pbp_week(seed, season, w) for w in range(1, WEEKS + 1)
        )
        pq.write_table(t, os.path.join(out_dir, f"season={season}.parquet"))
        rows += t.num_rows
        nbytes += t.nbytes
    return rows, nbytes


def week_order(first_season: int):
    """(season, week) pairs in calendar order from week 1 of
    ``first_season`` on."""
    season, week = first_season, 1
    while True:
        yield season, week
        week += 1
        if week > WEEKS:
            season, week = season + 1, 1


# ---------------------------------------------------------------------------
# curation documents
# ---------------------------------------------------------------------------

_WORDS = (
    "the a of and to in play pass run yards drive team quarter down "
    "field goal kick punt snap defense offense coach season game week "
    "score lead tie win loss rush route block sack catch throw"
).split()
_WORD_P = 1.0 / np.arange(1, len(_WORDS) + 1)
_WORD_P /= _WORD_P.sum()
_N_SOURCES = 20
_POOL = 4096  # base texts shared across batches (exact / near duplicates)


def _base_text(seed: int, k: int) -> list[str]:
    rng = _rng(seed, 3, k)
    n = int(rng.integers(25, 140))
    return list(np.asarray(_WORDS, dtype=object)[rng.choice(len(_WORDS), n, p=_WORD_P)])


def curation_docs(seed: int, batch: int, n: int) -> pa.Table:
    """One crawl shard of ``n`` documents with ids unique across
    batches. Mix: ~10% blocked hosts (src4, src13), ~25% non-English,
    ~8% too short or repetitive, ~5% gibberish (fails the perplexity
    gate), ~12% exact and ~12% near copies of a shared base pool,
    so the dedup gates fire within the batch and against state."""
    rng = _rng(seed, 4, batch)
    ids = batch * 1_000_000 + np.arange(n, dtype=np.int64)
    texts = []
    kind = rng.random(n)
    for i in range(n):
        k = int(rng.integers(0, _POOL))
        words = _base_text(seed, k)
        if kind[i] < 0.12:  # exact copy of a pool text
            pass
        elif kind[i] < 0.24:  # near copy: a couple of substitutions
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        elif kind[i] < 0.28:  # too short
            words = words[:8]
        elif kind[i] < 0.32:  # repetitive: low distinct ratio
            words = [words[0]] * 40
        elif kind[i] < 0.37:  # gibberish: every token unseen
            words = [f"x{int(v):x}q" for v in rng.integers(0, 1 << 30, 60)]
        else:  # fresh text
            words = list(
                np.asarray(_WORDS, dtype=object)[
                    rng.choice(len(_WORDS), int(rng.integers(25, 140)), p=_WORD_P)
                ]
            ) + [f"w{batch}d{i}"]
        texts.append(" ".join(words))
    lang = _choice(rng, ["en", "de", "es", "fr", "zh"], n, p=[0.75, 0.07, 0.06, 0.06, 0.06])
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": lang,
            "source": pa.array(
                [f"src{s}" for s in rng.integers(0, _N_SOURCES, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
