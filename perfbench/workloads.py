"""The closed-loop workloads: one client, one process, the next
op sent only after the previous one returns.

Each workload exposes:

- ``setup()``: inputs are generated, then the workload's package set-up
  step runs ``SETUP_REPS`` times on fresh state (the last rep's state is
  kept); returns the rep times, whose median enters ``setup_s``.
- ``WARMUP_OPS``: untimed ops run before the window (see NOTES.md).
- ``op(i)``: one op. It raises on failure.
- ``check()``: the correctness gate, run after the timed window; returns
  a list of problems (empty when correct).
- ``stored_ratio()``: bytes on disk of the table or tx state per byte of
  generated input.
- ``layer_metrics()``: workload-specific per-layer values.

Only the package's public functions are called, each inside a span
named ``<layer>.<what>``.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import inputs
import pyarrow as pa
import pyarrow.parquet as pq
from spans import dir_bytes

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def canon(cols, rows) -> tuple:
    """Order-free result fingerprint: columns sorted by name, rows
    sorted, floats at 9 significant digits (the oracle tolerance)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    lines = sorted(",".join(cell(r[i]) for i in order) for r in rows)
    digest = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return tuple(cols[i] for i in order), digest, len(rows)


def _duck_canon(con, sql: str) -> tuple:
    cur = con.execute(sql)
    return canon([d[0] for d in cur.description], cur.fetchall())


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


class Workload:
    """What every workload holds: the session, the tracer, the seed and
    a work directory of its own."""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.work = work


# ---------------------------------------------------------------------------
# nfl_warehouse: rebuild + weekly ingest in set-up, read-only analysis ops
# ---------------------------------------------------------------------------

KEY = ["game_id", "play_id"]


class NflWarehouse(Workload):
    """The paper's lifecycle. Set-up runs ``1_rebuild_db.R`` (full
    season-partitioned rebuild) and ``2_scrape_new_games.R`` for a few
    weeks (each week replays games already loaded, restates a few
    plays and reads the per-season counts back). Ops are read-only:
    one op is one pass of a fixed mix of oracle-backed registry
    queries over hot-cached fixtures and play-by-play analyses over
    the ingested table, read cold."""

    FIXTURE_SCALE = 0.02  # 120k lineitem rows
    SEASONS = range(inputs.FIRST_SEASON, inputs.FIRST_SEASON + 25)
    # one set-up per run: a second rep costs about 9.5 s, which the
    # 3420-s budget of a full evaluation cannot take (see NOTES.md)
    SETUP_REPS = 1
    LANDED_WEEKS = 1
    REPLAYED_GAMES = 2
    RESTATED_PLAYS = 24
    WARMUP_OPS = 1
    REGISTRY = (
        "pricing_summary",
        "revenue_by_nation",
        "lag_panel",
        "asof_join_events",
    )
    ANALYSES = ("team_pass_rates", "xpass_by_team", "passing_stats")
    # DuckDB statements for the columns of each analysis that plain
    # SQL reproduces (counts, means, sums; the xpass model is a UDF)
    ANALYSIS_ORACLES = {
        "team_pass_rates": (
            ["posteam", "pass_rate", "n_plays"],
            "SELECT posteam, avg(pass) AS pass_rate, count(*) AS n_plays "
            "FROM pbp WHERE down IN (1, 2) AND wp BETWEEN 0.2 AND 0.8 "
            "AND half_seconds_remaining > 120 AND epa IS NOT NULL "
            "AND posteam IS NOT NULL GROUP BY posteam",
        ),
        "xpass_by_team": (
            ["posteam", "n_plays", "pass_rate"],
            "SELECT posteam, count(*) AS n_plays, avg(pass) AS pass_rate "
            "FROM pbp WHERE down IS NOT NULL AND posteam IS NOT NULL "
            "AND epa IS NOT NULL AND (pass = 1 OR rush = 1) GROUP BY posteam",
        ),
        "passing_stats": (
            ["id", "season", "yards", "n"],
            "SELECT id, season, sum(yards_gained) AS yards, count(*) AS n "
            "FROM pbp WHERE season_type = 'REG' AND epa IS NOT NULL "
            "AND (rush = 1 OR pass = 1) AND play_type = 'pass' AND "
            "(incomplete_pass = 1 OR complete_pass = 1 OR interception = 1) "
            "GROUP BY id, season",
        ),
    }

    def setup(self) -> list[float]:
        from nfl_data_pipeline_spark import catalog
        from nfl_data_pipeline_spark.jobs.rebuild import rebuild
        from nfl_data_pipeline_spark.queries import all_queries

        self.sf_dir = os.path.join(self.work, "fixtures")
        raw = os.path.join(self.work, "raw_pbp")
        inputs.write_fixtures(self.seed, self.sf_dir, self.FIXTURE_SCALE)
        self.rows, self.user_bytes = inputs.write_pbp_seasons(
            self.seed, self.SEASONS, raw
        )
        self._land_weeks()
        self.specs = all_queries()
        self.seen = {}
        times = []
        for rep in range(self.SETUP_REPS):
            self.tr.op_id = rep
            self.table = os.path.join(self.work, f"pbp{rep}")
            t0 = time.perf_counter()
            with self.tr.span("jobs.rebuild"):
                rebuild(self.spark.read.parquet(raw), self.table, partition_col="season")
            self.rebuild_files = _parquet_files(self.table)
            self.results = [self._ingest(w) for w in self.weeks]
            catalog.clear_hot_cache()
            self.spark.catalog.clearCache()
            with self.tr.span("catalog.load"):
                for name in FIXTURE_TABLES:
                    catalog.load(self.spark, self.sf_dir, name)
            times.append(time.perf_counter() - t0)
            if rep + 1 < self.SETUP_REPS:
                shutil.rmtree(self.table)
        return times

    def _land_weeks(self) -> None:
        """Landing files for the weeks after the rebuilt seasons: each
        week's games plus the last games of the week before (already
        loaded, so they must append nothing), and a restatement of a
        few of its plays."""
        land = os.path.join(self.work, "landing")
        os.makedirs(land)
        self.weeks = []
        cal = inputs.week_order(self.SEASONS.stop)
        prev = inputs.pbp_week(self.seed, self.SEASONS[-1], inputs.WEEKS)
        for i in range(self.LANDED_WEEKS):
            season, week = next(cal)
            fresh = inputs.pbp_week(self.seed, season, week)
            gids = pa.compute.unique(prev["game_id"])[-self.REPLAYED_GAMES:]
            t = pa.concat_tables(
                [prev.filter(pa.compute.is_in(prev["game_id"], gids)), fresh]
            )
            restated = fresh.slice(fresh.num_rows - self.RESTATED_PLAYS)
            restated = restated.set_column(
                restated.schema.get_field_index("epa"),
                "epa",
                pa.compute.add(restated["epa"].fill_null(0.0), 1.0),
            )
            paths = {}
            for kind, table in (("new", t), ("fix", restated)):
                paths[kind] = os.path.join(land, f"{kind}{i}.parquet")
                pq.write_table(table, paths[kind])
            self.weeks.append({**paths, "fresh": fresh.num_rows})
            self.user_bytes += fresh.nbytes
            prev = fresh

    def _ingest(self, w: dict) -> tuple:
        from nfl_data_pipeline_spark.jobs.rebuild import sanity_counts
        from nfl_data_pipeline_spark.jobs.update import incremental_append
        from nfl_data_pipeline_spark.jobs.upsert import upsert_by_key

        with self.tr.span("jobs.append"):
            appended = incremental_append(
                self.spark, self.spark.read.parquet(w["new"]), self.table, KEY,
                partition_col="season",
            )
        with self.tr.span("jobs.upsert"):
            upsert_by_key(
                self.spark, self.spark.read.parquet(w["fix"]), self.table, KEY, "season"
            )
        with self.tr.span("jobs.read"):
            counts = sanity_counts(self.spark, self.table, "season").collect()
        return appended, sum(r["count"] for r in counts)

    def _analysis(self, name: str):
        from pyspark.sql import functions as F

        from nfl_data_pipeline_spark.plans import epa_panel, let_russ_cook, pass_rate_oe

        pbp = self.spark.read.parquet(self.table)
        if name == "team_pass_rates":
            return let_russ_cook.team_pass_rates(pbp)
        if name == "xpass_by_team":
            return (
                pass_rate_oe.add_xpass(pbp)
                .groupBy("posteam")
                .agg(
                    F.count("*").alias("n_plays"),
                    F.avg("pass").alias("pass_rate"),
                    F.avg("pass_oe").alias("pass_oe"),
                )
            )
        return epa_panel.passing_stats(pbp)

    def op(self, i: int) -> None:
        """One pass of the mix. The warm-up pass (``i < 0``) collects
        every result for the correctness gate; timed passes write to
        the noop sink, which computes every column without moving rows
        to the driver."""
        mix = [("queries", n, self.specs[n].spark, (self.spark, self.sf_dir)) for n in self.REGISTRY]
        mix += [("plans", n, self._analysis, (n,)) for n in self.ANALYSES]
        for layer, name, build, args in mix:
            with self.tr.span(f"{layer}.build"):
                df = build(*args)
            with self.tr.span(f"{layer}.exec"):
                if i < 0:
                    self.seen[name] = (list(df.columns), [tuple(r) for r in df.collect()])
                else:
                    _noop(df)

    def check(self) -> list[str]:
        return self._check_ingest() + self._check_queries()

    def _check_ingest(self) -> list[str]:
        """The ``2_scrape_new_games.R`` contract: replayed games append
        nothing, the restatement keeps the row count and lands its
        values, and the table holds exactly what was generated."""
        problems = []
        total = self.rows
        for n, (w, (appended, counted)) in enumerate(zip(self.weeks, self.results)):
            total += w["fresh"]
            if appended != w["fresh"]:
                problems.append(f"week {n}: appended {appended}, expected {w['fresh']}")
            if counted != total:
                problems.append(f"week {n}: table holds {counted}, expected {total}")
        tbl = self.spark.read.parquet(self.table)
        for w in self.weeks:
            fix = self.spark.read.parquet(w["fix"])
            want = sorted(tuple(r) for r in fix.select(*KEY, "epa").collect())
            got = sorted(tuple(r) for r in tbl.join(fix.select(*KEY), KEY).select(*KEY, "epa").collect())
            if got != want:
                problems.append(f"restated plays of {w['fix']} did not land")
        final = tbl.count()
        if final != total:
            problems.append(f"final count {final}, generator says {total}")
        return problems

    def _check_queries(self) -> list[str]:
        import duckdb

        problems = []
        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in self.REGISTRY:
            got = canon(*self.seen[name])
            want = _duck_canon(con, self.specs[name].oracle)
            if got != want:
                problems.append(f"{name}: spark {got} != oracle {want}")
        con.execute(
            "CREATE VIEW pbp AS SELECT * FROM read_parquet("
            f"'{self.table}/**/*.parquet', hive_partitioning = true)"
        )
        for name, (cols, sql) in self.ANALYSIS_ORACLES.items():
            all_cols, rows = self.seen[name]
            ix = [all_cols.index(c) for c in cols]
            got = canon(cols, [tuple(r[j] for j in ix) for r in rows])
            want = _duck_canon(con, sql)
            if got != want:
                problems.append(f"{name}: spark {got} != duckdb {want}")
        con.close()
        return problems

    def stored_ratio(self) -> float:
        return dir_bytes(self.table) / self.user_bytes

    def layer_metrics(self) -> dict:
        rebuild = sorted(self.tr.durations("jobs.rebuild", "setup").values())
        return {
            "jobs.rebuild_rows_per_s": self.rows / rebuild[len(rebuild) // 2],
            "jobs.rebuild_files": self.rebuild_files,
            "jobs.appended_rows": sum(a for a, _ in self.results) / len(self.results),
            "jobs.table_files": _parquet_files(self.table),
            "jobs.table_mb": dir_bytes(self.table) / 1e6,
        }


# ---------------------------------------------------------------------------
# curation_stream: stateful micro-batches over tx state
# ---------------------------------------------------------------------------

_BLOCKED = ("src4", "src13")
_CHAIN = ("n_input", "n_url", "n_lang", "n_quality", "n_ppl", "n_final", "n_neardup")


class CurationStream(Workload):
    """One op = one crawl shard through the full curation chain
    (funnel gates, exact dedup, near-dup gate, accounting merges),
    then the counts report read back from the same tx state."""

    BATCH_DOCS = 250
    SETUP_REPS = 2  # the second rep is also the warm-up
    PRIME_BATCHES = 1  # per set-up rep
    WARMUP_OPS = 0
    MAX_OPS = 24  # batches generated for the window

    def setup(self) -> list[float]:
        from nfl_data_pipeline_spark.streaming.curation import CurationState

        self.land = os.path.join(self.work, "landing")
        os.makedirs(self.land)
        n_batches = self.PRIME_BATCHES + self.WARMUP_OPS + self.MAX_OPS
        self.batches = []
        for b in range(n_batches):
            t = inputs.curation_docs(self.seed, b, self.BATCH_DOCS)
            path = os.path.join(self.land, f"batch{b}.parquet")
            pq.write_table(t, path)
            self.batches.append({"path": path, "docs": t, "bytes": t.nbytes})
        times = []
        for rep in range(self.SETUP_REPS):
            self.tr.op_id = rep
            self.root = os.path.join(self.work, f"state{rep}")
            self.state = CurationState(self.root, track_frequent=True)
            self.next_batch = 0
            self.results = []
            t0 = time.perf_counter()
            for _ in range(self.PRIME_BATCHES):
                self.op(-1)
            times.append(time.perf_counter() - t0)
            if rep + 1 < self.SETUP_REPS:
                shutil.rmtree(self.root)
        return times

    def op(self, i: int) -> None:
        from nfl_data_pipeline_spark.streaming.curation import (
            process_curation_batch,
            read_curation_counts,
        )

        b = self.next_batch
        docs = self.spark.read.parquet(self.batches[b]["path"])
        with self.tr.span("streaming.batch"):
            kept = process_curation_batch(self.spark, docs, self.state, f"b{b}").count()
        with self.tr.span("streaming.counts_read"):
            counts = [r.asDict() for r in read_curation_counts(self.spark, self.state).collect()]
        self.next_batch += 1
        self.results.append((b, kept, counts))

    def check(self) -> list[str]:
        from nfl_data_pipeline_spark.streaming.curation import (
            process_curation_batch,
            read_curation_counts,
        )

        problems = []
        prev: dict = {}
        for b, kept, counts in self.results:
            now = {r["source"]: r for r in counts}
            delta = {
                s: {c: now[s][c] - prev.get(s, {}).get(c, 0) for c in _CHAIN} for s in now
            }
            docs = self.batches[b]["docs"].to_pylist()
            want = {c: {} for c in ("n_input", "n_url", "n_lang", "n_quality")}
            for d in docs:
                s = d["source"]
                toks = d["text"].split(" ")
                ok = [True, s not in _BLOCKED, d["lang"] == "en"]
                ok.append(20 <= len(toks) <= 400 and len(set(toks)) / len(toks) >= 0.3)
                for c, stage in zip(want, range(4)):
                    if all(ok[: stage + 1]):
                        want[c][s] = want[c].get(s, 0) + 1
            for c in want:
                got = {s: v[c] for s, v in delta.items() if v[c]}
                if got != want[c]:
                    problems.append(f"batch {b}: {c} delta {got} != {want[c]}")
            for s, v in delta.items():
                chain = [v[c] for c in _CHAIN]
                if any(x < y for x, y in zip(chain, chain[1:])) or chain[-1] < 0:
                    problems.append(f"batch {b} {s}: gate counts not monotone {chain}")
            if sum(v["n_neardup"] for v in delta.values()) != kept:
                problems.append(f"batch {b}: kept {kept} != counted survivors")
            prev = now
        # replaying the last batch id must change no counts
        b = self.results[-1][0]
        before = sorted(map(str, read_curation_counts(self.spark, self.state).collect()))
        process_curation_batch(
            self.spark, self.spark.read.parquet(self.batches[b]["path"]), self.state, f"b{b}"
        )
        after = sorted(map(str, read_curation_counts(self.spark, self.state).collect()))
        if before != after:
            problems.append("replaying the last batch changed the counts")
        return problems

    def stored_ratio(self) -> float:
        fed = sum(self.batches[b]["bytes"] for b, _, _ in self.results)
        return dir_bytes(self.root) / fed

    def layer_metrics(self) -> dict:
        from nfl_data_pipeline_spark.jobs.txlog import TxTable

        st = self.state
        tables = [
            t
            for obj in (st, st.funnel, st.neardup)
            for t in vars(obj).values()
            if isinstance(t, TxTable)
        ]
        timed = self.results[self.PRIME_BATCHES + self.WARMUP_OPS:]
        fed = sum(len(self.batches[b]["docs"]) for b, _, _ in timed)
        out = {
            "streaming.txlog_versions": sum(
                t.latest_version() + 1 for t in tables if t.latest_version() is not None
            ),
            "streaming.kept_share": sum(k for _, k, _ in timed) / max(1, fed),
        }
        for fam in ("funnel", "neardup", "near_counts", "len_hist", "frequent"):
            out[f"streaming.state_mb.{fam}"] = dir_bytes(os.path.join(self.root, fam)) / 1e6
        return out


WORKLOADS = {
    "nfl_warehouse": NflWarehouse,
    "curation_stream": CurationStream,
}
