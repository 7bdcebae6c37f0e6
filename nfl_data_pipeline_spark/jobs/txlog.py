"""Minimal transactional table format: a version-pointer log over
plain parquet files (the Delta-/Iceberg-style commit protocol,
re-derived from the published designs — Armbrust et al., "Delta Lake:
High-Performance ACID Table Storage over Cloud Object Stores",
VLDB 2020).

Why it exists here: jobs/rollup.py and jobs/upsert.py rewrite
partitions with dynamic partition overwrite plus a side-car replay
ledger. That leaves one documented crash window — a crash AFTER the
overwrite commits but BEFORE the ledger marker lands replays the
batch as a double-count (rollup.py:80-86). Closing it requires data
and marker to become visible in ONE atomic step, which a directory
of parquet files cannot express but a version pointer can:

    table_root/
      _txlog/00000000.json     # manifest: live files + applied batch ids
      _txlog/00000001.json
      data/<commit-uuid>/_pv=<val>/part-*.parquet

- **Readers** resolve the highest-numbered manifest and read exactly
  the files it lists. Data files from an uncommitted (crashed) write
  are orphans no manifest references — invisible, garbage-collected
  by ``vacuum``.
- **Writers** stage new files under a fresh ``data/<uuid>/`` dir
  (never touching live files), then publish manifest N+1 with
  put-if-absent (``os.link`` — EEXIST on POSIX; on an object store
  this is the put-if-absent / rename-without-overwrite primitive).
  The manifest carries the applied-batch-id set, so the replay marker
  and the data commit are the SAME atomic action.
- **Logical deletes**: a commit lists files to drop from the live
  set; bytes stay on disk for time travel until ``vacuum``.

Partition handling: each data file belongs to exactly ONE partition
value (writes repartition on a ``_pv`` shadow column and hive-layout
on it), and the manifest records that value per file. The partition
column itself stays a *data* column inside the files, so readers can
``spark.read.parquet(*files)`` without basePath tricks, and partition
pruning happens at the MANIFEST level (file skipping) — strictly
earlier than hive-dir pruning, and the same mechanism Delta uses.

Concurrency: optimistic, single table — a losing concurrent committer
gets ``CommitConflict`` and must re-derive against the new snapshot
(no blind retry: its staged files may now overlap a committed write).

Scale posture: manifests hold (path, partition, bytes, stats) per
file — at 100 TB with ~1 GB files that's ~100k entries, a few MB of
JSON; the log is append-per-commit and head resolution is O(1) via
the ``_last_checkpoint`` hint (measured flat to 5,001 versions in
SCALING.md; the hint-less listdir fallback is the only linear path
and costs ~1 µs/version). The applied-batch-id set — the one
per-commit-growing piece — is bounded by an arrival-ordered ring
(``max_batch_ids``): oldest ids fall off under a truncation counter;
``is_applied(strict=True)`` on a dropped id raises rather than
guessing, while the default treats it as new (a raise-by-default
would brick every live writer at commit max_batch_ids+1). Sizing:
the ring must exceed the worst-case replay window in COMMITS — at
one commit/minute the 10k default is ~a week, and the manifest cost
is ~bytes-per-id × ring (~400 KB); an undersized ring double-applies
a late replay (tests/test_streaming_frequent.py pins both paths).
``applied_version`` bisects the dense retained version range, so the
replay-snapshot path does no listdir either; ``vacuum``'s prune
sweep is the one O(versions) pass left, runs on the maintenance
cadence, and truncates the log that makes it slow.
Incremental consumers read ``read_changes(from_version)`` — a
manifest set-difference, exact row-level CDC for append-only tables
and partition-granular upsert-CDC for rewrite tables.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG = logging.getLogger(__name__)

_PV = "_pv"  # shadow hive-partition dir column (never read back)


def _pv_str(v) -> str:
    """Partition value → manifest key. ``stage_files`` keys partitions
    through Spark's ``cast("string")``, so every DRIVER-side path that
    compares against manifest partitions must reproduce those
    semantics, not Python ``str()`` — the two diverge on booleans
    ("true" vs "True"), which would silently fork a
    boolean-partitioned table's state between the distributed and
    driver-staged paths (r11 ADVICE txlog.py:1129). Strings and
    integrals are identical under both; dates cast to ISO. Floats,
    decimals and timestamps are rejected outright: their Spark
    formatting is locale/version-sensitive, and a partition key that
    needs one should be cast to string by the writer first."""
    if v is None:
        raise ValueError(
            "null partition values are not supported: the manifest "
            "keys partitions by their string cast, which cannot "
            "round-trip null"
        )
    if isinstance(v, bool):  # before int — bool is an int subclass
        return "true" if v else "false"
    if isinstance(v, (str, int)):
        return str(v)
    import datetime

    if isinstance(v, datetime.date) and not isinstance(
        v, datetime.datetime
    ):
        return v.isoformat()
    raise TypeError(
        f"unsupported partition value type {type(v).__name__!r}: "
        "float/decimal/timestamp partition keys must be cast to "
        "string before writing (Spark's cast-to-string formatting "
        "for these types is not stable enough to key state files on)"
    )


class CommitConflict(RuntimeError):
    """Another writer published this version first. Re-read the table
    snapshot and re-derive the commit before retrying."""


class StagedFilesMissing(RuntimeError):
    """Staged parquet vanished between stage_files and commit — the
    signature of a concurrent vacuum whose grace window elapsed
    mid-write. The manifest was NOT published; re-stage and retry
    (and size grace_s above the writer's worst-case stage→commit
    gap)."""


class TruncatedBatchHistory(RuntimeError):
    """``is_applied(..., strict=True)`` was asked about a batch id
    not in the retained ring after truncation (``max_batch_ids``).
    The id is either long-applied or genuinely new — the log can no
    longer tell. Strict mode raises for operators that must not
    guess; the DEFAULT returns False (treat as new), which is correct
    for every live writer because a NEW batch id is the common case —
    raising by default would brick all exactly-once writers at
    exactly commit max_batch_ids+1. The degradation the default
    accepts: a replay arriving more than max_batch_ids commits late
    double-applies — size the ring beyond any real replay window
    (foreachBatch replays only since the last checkpoint)."""


def _footer_rows(path: str) -> int | None:
    """Exact row count from the parquet footer (no data scan) —
    recorded per file in the manifest so COUNT-style aggregates can
    be answered from metadata alone (Delta's metadata-only query
    shape; see TxTable.fast_stats)."""
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def _footer_stats(path: str, cols: list[str]) -> dict:
    """Per-file min/max from parquet row-group footers (no data
    scan). Values are JSON-serialized; non-orderable/absent columns
    are simply omitted (skipping then never prunes on them)."""
    import pyarrow.parquet as pq

    out: dict[str, list] = {}
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return out
    schema_names = {md.row_group(0).column(i).path_in_schema
                    for i in range(md.num_columns)} if md.num_row_groups else set()
    for col in cols:
        if col not in schema_names:
            continue
        mins, maxs = [], []
        complete = True  # every row group must contribute, or the
        # recorded range would not cover all rows (false skips)
        for rg in range(md.num_row_groups):
            if not complete:
                break
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema != col:
                    continue
                st = c.statistics
                if st is None or not st.has_min_max:
                    complete = False
                    break
                mn, mx = st.min, st.max
                # pyarrow reports has_min_max=True but an EMPTY (or
                # silently truncated) value when a string exceeds the
                # 4096-byte statistics cap — a truncated max is not a
                # valid upper bound, so treat such stats as absent
                # like non-orderable columns (never prunes on them)
                if any(
                    isinstance(v, (bytes, str))
                    and (len(v) == 0 or len(v) >= 4096)
                    for v in (mn, mx)
                ):
                    complete = False
                    break
                mins.append(mn)
                maxs.append(mx)
        if complete and mins and maxs:
            try:
                lo, hi = min(mins), max(maxs)
                if isinstance(lo, bytes):
                    lo, hi = lo.decode("utf-8", "replace"), hi.decode(
                        "utf-8", "replace"
                    )
                json.dumps([lo, hi])  # only JSON-safe stats persist
                if not lo <= hi:  # belt-and-braces vs dropped-max
                    continue
                out[col] = [lo, hi]
            except (TypeError, ValueError):
                pass
    return out


def _may_contain(entry: dict, col: str, lo, hi) -> bool:
    """File-skipping predicate: can [lo, hi] intersect this file's
    recorded range? Missing stats → must read (no false skips)."""
    stats = entry.get("stats", {}).get(col)
    if not stats:
        return True
    fmin, fmax = stats
    if lo is not None and fmax < lo:
        return False
    if hi is not None and fmin > hi:
        return False
    return True


def _read_parquet_files(
    spark: SparkSession, paths: list[str], schema=None
) -> DataFrame:
    """``spark.read.parquet(*paths)`` in O(1) py4j round trips.
    pyspark converts the path list with one call per element, so
    opening a snapshot would cost more with every file the table
    gains; here the ``String[]`` is split JVM-side from one joined
    string and handed to the varargs ``parquet(String...)`` overload.
    The separator is NUL, the one character a POSIX path cannot
    hold."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    jpaths = spark._jvm.java.util.regex.Pattern.compile("\0").split(
        "\0".join(paths)
    )
    return DataFrame(reader._jreader.parquet(jpaths), spark)


def _fmt_version(v: int) -> str:
    return f"{v:08d}.json"


def _check_type_compatible(old_anchor: str, new_file: str) -> None:
    """Commit-time schema guard: columns present in BOTH the old and
    new schema must keep their parquet type exactly (two footer
    reads, no data scan). Added/removed columns pass — that is the
    supported evolution surface."""
    import pyarrow.parquet as pq

    try:
        old = pq.read_schema(old_anchor)
    except Exception:
        return  # anchor unreadable → nothing to enforce against
    new = pq.read_schema(new_file)
    old_types = {f.name: f.type for f in old}
    for f in new:
        t = old_types.get(f.name)
        if t is not None and t != f.type:
            raise ValueError(
                f"incompatible schema change for column {f.name!r}: "
                f"{t} -> {f.type}. Type changes are not valid "
                "evolution (pinned reads of old files would fail); "
                "migrate by rewriting the table under the new type."
            )


class TxTable:
    """Handle on one versioned table rooted at ``root``."""

    def __init__(self, root: str, max_batch_ids: int = 10_000):
        self.root = root
        self.log_dir = os.path.join(root, "_txlog")
        self.data_dir = os.path.join(root, "data")
        self._schema_cache: dict = {}  # anchor footer schema → StructType
        # applied-batch-id ring size: the set is rewritten into every
        # manifest, so at high commit rates it is the one metadata
        # piece that grows without bound (measured: SCALING.md
        # §"Tx-log metadata overhead"). The ring keeps the newest N in
        # arrival order; older ids are dropped under a recorded truncation
        # counter (the Kafka-offsets compaction shape) and asking
        # about one raises TruncatedBatchHistory.
        self.max_batch_ids = max_batch_ids

    # ---- log resolution -------------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.log_dir, "_last_checkpoint")

    def _read_hint(self) -> int | None:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _write_hint(self, v: int) -> None:
        """Best-effort head hint (Delta's ``_last_checkpoint`` shape):
        written AFTER the manifest link, atomically replaced, never
        load-bearing — a stale/missing/corrupt hint degrades to the
        probe-forward or full-scan path, never to a wrong answer."""
        try:
            tmp = os.path.join(
                self.log_dir, f"_hint_tmp_{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as f:
                f.write(str(v))
            os.replace(tmp, self._hint_path())
        except OSError:
            pass

    def latest_version(self) -> int | None:
        if not os.path.isdir(self.log_dir):
            return None
        hint = self._read_hint()
        if hint is not None and os.path.exists(
            os.path.join(self.log_dir, _fmt_version(hint))
        ):
            # O(1) + O(commits since the hint): probe forward past
            # any commits whose hint write lost a race or crashed.
            # Versions are dense integers published via put-if-absent,
            # so the first missing successor IS the head.
            v = hint
            while os.path.exists(
                os.path.join(self.log_dir, _fmt_version(v + 1))
            ):
                v += 1
            return v
        # bootstrap / legacy table / vacuumed-away hint target:
        # full directory scan, O(#retained versions)
        versions = [
            int(f[:-5])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        ]
        return max(versions) if versions else None

    def manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v is None or v < 0:
            # -1 is the canonical before-any-commit snapshot (the
            # starting CDC cursor: read_changes(from_version=-1) is a
            # full-table read)
            return {"version": -1, "files": [], "batch_ids": [], "meta": {}}
        with open(os.path.join(self.log_dir, _fmt_version(v))) as f:
            return json.load(f)

    def has_version(self, version: int) -> bool:
        """True when ``version``'s manifest is still on disk (vacuum
        prunes manifests older than the retained window)."""
        if version < 0:
            return True  # the canonical empty snapshot
        return os.path.exists(
            os.path.join(self.log_dir, _fmt_version(version))
        )

    def applied_version(self, batch_id: str) -> int | None:
        """The version whose commit applied ``batch_id`` — the lowest
        retained version whose batch ring contains the id (membership
        is monotone from the applying commit forward until ring
        truncation, so this binary-searches the retained manifests:
        O(log versions) manifest reads, no full scan). None when the
        id is absent from every retained manifest (never applied, or
        truncated — callers gate on ``is_applied`` first) or when the
        applying commit's manifest was vacuumed away."""
        latest = self.latest_version()
        if latest is None:
            return None
        if batch_id not in set(self.manifest(latest)["batch_ids"]):
            return None
        # Versions are dense integers and vacuum prunes a PREFIX, so
        # the retained range is [oldest, latest] with oldest found by
        # existence bisection — no O(versions) listdir on this path
        # (the hint keeps latest_version O(1) too).
        lo, hi = 0, latest
        while lo < hi:  # lowest retained version
            mid = (lo + hi) // 2
            if self.has_version(mid):
                hi = mid
            else:
                lo = mid + 1
        oldest = lo
        lo, hi = oldest, latest
        while lo < hi:  # lowest retained version containing the id
            mid = (lo + hi) // 2
            if batch_id in set(self.manifest(mid)["batch_ids"]):
                hi = mid
            else:
                lo = mid + 1
        return lo

    def read_before_batch(
        self,
        spark: SparkSession,
        batch_id: str,
        partitions: set | None = None,
    ) -> object:
        """The table AS OF the snapshot immediately BEFORE
        ``batch_id``'s commit — the exact frame the original run of
        that batch probed, for replay paths whose verdicts depend on
        registry-side frequencies (hot caps): replaying against the
        current head would count the batch's own registered rows and
        can cap a key the original run did not. Returns the pre-batch
        DataFrame (None = the registry was empty then); returns
        ``Ellipsis`` when the pre-batch snapshot is no longer
        reconstructible (the predecessor manifest was vacuumed, or
        the ring truncated the id) — the caller falls back to the
        current head and documents the residual."""
        v0 = self.applied_version(batch_id)
        if v0 is None:
            return Ellipsis
        if v0 == 0:
            return None
        if not self.has_version(v0 - 1):
            return Ellipsis
        return self.read(spark, version=v0 - 1, partitions=partitions)

    def live_files(
        self,
        version: int | None = None,
        partitions: set | None = None,
        ranges: dict | None = None,
    ) -> list[dict]:
        """File entries in a snapshot, manifest-pruned by partition
        value (compared as strings — the hive path encoding) and/or by
        per-file column stats: ``ranges={col: (lo, hi)}`` skips files
        whose recorded min/max cannot intersect (None bound = open).
        Files without stats are never skipped."""
        files = self.manifest(version)["files"]
        if partitions is not None:
            want = {_pv_str(p) for p in partitions}
            files = [f for f in files if f["partition"] in want]
        for col, (lo, hi) in (ranges or {}).items():
            files = [f for f in files if _may_contain(f, col, lo, hi)]
        return files

    def fast_stats(
        self,
        cols: list[str] | None = None,
        version: int | None = None,
        partitions: set | None = None,
    ) -> dict:
        """Metadata-only aggregates over a snapshot — the Spark-side
        substitute for aggregate pushdown, which the Python DataSource
        API cannot express (reader hooks are partitions/pushFilters/
        read only; there is no pushAggregation for Python sources).
        Returns ``{"rows": exact count | None, "min": {col: v},
        "max": {col: v}}`` straight from the manifest:

        - ``rows``: sum of per-file footer counts recorded at stage
          time; None when any live file predates rows-tracking (a
          wrong count is worse than a scan).
        - min/max: fold of the per-file footer ranges — EXACT, not a
          bound, because every row lives inside some file's recorded
          range. Columns missing stats on any file are omitted.

        O(manifest), zero data IO — Delta's metadata-only COUNT/MIN/
        MAX shape. Logical deletes are partition-granular in this
        format, so every live file's stats are fully live."""
        files = self.live_files(version, partitions=partitions)
        rows: int | None = 0
        for f in files:
            r = f.get("rows")
            if r is None:
                rows = None
                break
            rows += r
        mins: dict = {}
        maxs: dict = {}
        incomplete: set = set()
        for col in cols or []:
            for f in files:
                s = (f.get("stats") or {}).get(col)
                if s is None:
                    incomplete.add(col)
                    break
                lo, hi = s
                mins[col] = lo if col not in mins else min(mins[col], lo)
                maxs[col] = hi if col not in maxs else max(maxs[col], hi)
        for col in incomplete:
            mins.pop(col, None)
            maxs.pop(col, None)
        return {"rows": rows, "min": mins, "max": maxs}

    def is_applied(
        self,
        batch_id: str,
        version: int | None = None,
        strict: bool = False,
    ) -> bool:
        m = self.manifest(version)
        if batch_id in set(m["batch_ids"]):
            return True
        if strict and m.get("batch_ids_dropped", 0) > 0:
            raise TruncatedBatchHistory(
                f"batch id {batch_id!r} is not in the retained ring and "
                f"{m['batch_ids_dropped']} ids have been dropped — "
                "applied-or-new is undecidable; raise max_batch_ids"
            )
        return False

    def column_domain(
        self, cols: list[str], version: int | None = None
    ) -> tuple[dict, dict]:
        """(mins, maxs) per column over a snapshot, from manifest
        stats alone — the normalization domain ``zorder_key`` needs.
        Raises if any file lacks stats for a requested column (a
        domain guessed from partial stats would silently misplace the
        unseen values' Z-cells)."""
        mins: dict = {}
        maxs: dict = {}
        for f in self.manifest(version)["files"]:
            stats = f.get("stats", {})
            for c in cols:
                if c not in stats:
                    raise ValueError(
                        f"no recorded stats for column {c!r} in "
                        f"{f['path']}; stage with stats_cols={cols!r}"
                    )
                lo, hi = stats[c]
                mins[c] = lo if c not in mins else min(mins[c], lo)
                maxs[c] = hi if c not in maxs else max(maxs[c], hi)
        return mins, maxs

    # ---- read -----------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partitions: set | None = None,
        ranges: dict | None = None,
    ) -> DataFrame | None:
        """Snapshot read (latest or time-travel ``version``), with
        manifest-level partition pruning and stats-based file skipping
        (``ranges``; the caller still applies the row-level filter —
        skipping is a superset guarantee, like parquet row-group
        pruning one level up). None for an empty table / all-pruned.

        Schema evolution: the snapshot's LATEST commit defines the
        schema (``schema_file`` anchor in the manifest — the Delta
        "schema in the log" rule at file granularity). Files written
        under an older schema read missing columns as null; columns
        the latest schema dropped are not surfaced. Without an anchor
        (pre-evolution manifests, or the anchor vacuumed away after a
        rewrite) the read falls back to Spark's default single-schema
        behavior."""
        files = self.live_files(version, partitions, ranges)
        if not files:
            return None
        m = self.manifest(version)
        anchor = m.get("schema_file")
        paths = [f["path"] for f in files]
        if anchor and os.path.exists(anchor):
            import pyarrow.parquet as pq

            # Keyed on the anchor's footer schema, not on the version:
            # every commit that adds files moves the anchor, but the
            # schema changes only on evolution. So Spark's inference
            # (a 1-task job) runs once per distinct schema, and the
            # footer read that finds the key is driver-local.
            key = pq.read_schema(anchor).serialize().to_pybytes()
            schema = self._schema_cache.get(key)
            if schema is None:
                schema = spark.read.parquet(anchor).schema
                self._schema_cache[key] = schema
            return _read_parquet_files(spark, paths, schema)
        return _read_parquet_files(spark, paths)

    # ---- change-data feed ----------------------------------------------

    def changed_partitions(
        self, from_version: int, to_version: int | None = None
    ) -> set[str]:
        """Partitions whose live file set differs between two
        snapshots — the invalidation set an incremental consumer
        (downstream rollup, cache, export) must refresh."""
        to_v = self.latest_version() if to_version is None else to_version
        old = {}
        for f in self.manifest(from_version)["files"]:
            old.setdefault(f["partition"], set()).add(f["path"])
        new = {}
        for f in self.manifest(to_v)["files"]:
            new.setdefault(f["partition"], set()).add(f["path"])
        return {
            p
            for p in set(old) | set(new)
            if old.get(p, set()) != new.get(p, set())
        }

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame | None:
        """File-level change feed between two snapshots: rows in files
        ADDED since ``from_version`` (manifest set difference — no
        data diffing, no extra bookkeeping at write time).

        Semantics by table style:
        - append-only commits (e.g. the funnel's fingerprint
          registry): exactly the inserted rows — true row-level CDC.
        - partition-rewrite commits (mergeable sums, compaction): the
          NEW state of every touched partition; pair with
          ``changed_partitions`` to drop the old state first. That is
          upsert-CDC at partition granularity, the granularity this
          format tracks — row-level deltas of a rewritten partition
          would require persisting pre-images, which the mergeable-
          state design makes unnecessary (consumers re-derive from
          the partition's new state).

        Compaction caveat: a compacted partition's files change while
        its ROWS do not; consumers keyed on ``changed_partitions``
        see it as touched and refresh to identical values — correct,
        just not minimal. Returns None when nothing was added."""
        to_v = self.latest_version() if to_version is None else to_version
        old_paths = {f["path"] for f in self.manifest(from_version)["files"]}
        added = [
            f["path"]
            for f in self.manifest(to_v)["files"]
            if f["path"] not in old_paths
        ]
        if not added:
            return None
        return _read_parquet_files(spark, added)

    # ---- write ----------------------------------------------------------

    def stage_rows_local(
        self,
        rows: list[dict],
        schema,
        partition_col: str | None = None,
    ) -> list[dict]:
        """Driver-side staging for METADATA-SIZED frames: write the
        partition files directly with pyarrow on the driver — ZERO
        Spark jobs. The r11 floor study (SCALING.md,
        tools/curation_floor.py) measured ~1 s of pure Spark-job +
        shuffle + collect overhead per ``stage_files`` call on state
        merges whose data is a few KB; with 8 state tables per
        curation batch that fixed floor dominated the most expensive
        bench key. A tiny-state commit should not pay cluster-job
        scheduling — the distributed path remains the only correct
        choice the moment the frame stops being driver-sized, which
        is exactly the bound ``prepare_grouped_sums`` already
        enforces before choosing this path.

        ``rows`` are plain dicts; ``schema`` is the frame's Spark
        StructType, converted via pyspark's own arrow mapping so the
        written files are byte-compatible with the mapInArrow path
        (same types, same one-file-per-partition manifest contract,
        same quoted file naming)."""
        from urllib.parse import quote

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        commit_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        os.makedirs(commit_dir, exist_ok=True)
        aschema = to_arrow_schema(schema)
        by_pv: dict[str, list[dict]] = {}
        for r in rows:
            pv = "all" if partition_col is None else r[partition_col]
            by_pv.setdefault(_pv_str(pv), []).append(r)
        entries = []
        for pv, rs in by_pv.items():
            path = os.path.join(
                commit_dir, f"{quote(pv, safe='')}-{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(pa.Table.from_pylist(rs, schema=aschema), path)
            entries.append(
                {
                    "path": path,
                    "partition": pv,
                    "bytes": os.path.getsize(path),
                    "rows": len(rs),
                }
            )
        return entries

    def stage_files_auto(
        self,
        df: DataFrame,
        partition_col: str | None = None,
        small_rows: int = 20_000,
        site: str | None = None,
    ) -> list[dict]:
        """APPEND-shaped staging with the same small-frame dial
        ``prepare_grouped_sums`` uses for merges (r11 VERDICT next
        #2): one bounded ``limit(N+1).collect()`` sizes the delta —
        metadata-sized frames stage driver-side via
        ``stage_rows_local`` (ZERO further Spark jobs, and the
        collected copy pins the rows against recompute
        nondeterminism), anything larger takes the distributed
        ``stage_files`` path untouched. Appends only need the DELTA
        bound, not delta+state: nothing is rewritten, so accumulated
        partition state never rides the written frame.

        Caller contract — MATERIALIZED INPUTS: pass frames whose
        expensive lineage is already checkpointed/persisted (every
        current call site does: the funnel's ``flagged``, the
        neardup gate's bands/sids/verdicts). The sizing probe is
        then a bounded partial scan, and when the frame exceeds the
        bound the distributed path's re-derivation is one cheap pass
        over materialized inputs — not a second execution of the
        full upstream chain. An eager checkpoint inside this method
        was measured (r12) at ~+1.5 s/batch on the curation pipeline:
        it re-adds a full-materialization job per append on exactly
        the metadata-sized path this dial exists to make free.

        The decision is recorded in the shared gate-telemetry ring
        (``operators.hints.GATE_EVENTS``, path ``driver`` /
        ``distributed``) so a bench or production run shows where the
        staging crossover landed, exactly like the broadcast gates.

        NARROW frames only: the bound is rows, so the bounding
        collect is only driver-safe when rows are metadata-shaped
        (ids, counts, hashes). Tables whose rows carry payloads
        (embedding vectors, media bytes) must stay on ``stage_files``
        — for them the limit(N+1).collect() would itself be the
        driver hazard (streaming/embdedup.py documents the call-site
        decision)."""
        import sys as _sys

        from ..operators.hints import GATE_EVENTS

        # coalesce(1) before the bounded limit: CollectLimit's
        # incremental execution otherwise probes a multi-partition
        # (checkpointed — see the contract above) frame in 4-5
        # scale-up JOBS (1, 4, 16... partitions), each paying the
        # scheduling floor; one coalesced task iterates the
        # materialized partitions lazily and early-stops at the
        # bound, so the probe is ONE job with ≤ small_rows+1 rows of
        # work at any scale (r13)
        head = df.coalesce(1).limit(small_rows + 1).collect()
        small = len(head) <= small_rows
        path = "driver" if small else "distributed"
        if site is None:  # caller frame; pass `site` through executors
            f = _sys._getframe(1)
            site = f"{os.path.basename(f.f_code.co_filename)}:{f.f_lineno}"
        GATE_EVENTS.append(
            {
                "site": site,
                # past the bound the exact size is unknown (the probe
                # stops at N+1) — record the honest lower bound, not
                # a clamp masquerading as a measurement
                "rows": len(head) if small else None,
                "rows_at_least": None if small else small_rows + 1,
                "max_rows": small_rows,
                "path": path,
            }
        )
        _LOG.info(
            "stage_files_auto site=%s rows%s=%d small_rows=%d path=%s",
            site, "" if small else ">", len(head) if small else small_rows,
            small_rows, path,
        )
        if small:
            return self.stage_rows_local(
                [r.asDict() for r in head], df.schema, partition_col
            )
        return self.stage_files(df, partition_col)

    def stage_files(
        self,
        df: DataFrame,
        partition_col: str | None = None,
        stats_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_files: int = 8,
        shuffle_tasks: int | None = None,
    ) -> list[dict]:
        """Stage ``df`` as new data files; returns manifest entries.
        NOT visible to readers until ``commit`` publishes them — a
        crash here leaves only orphans.

        ``stats_cols`` records per-file min/max (read from the parquet
        row-group footers — already computed by the writer, zero extra
        scan) into the manifest for data skipping at read time.

        ``cluster_by`` range-clusters the write: rows are
        range-repartitioned into ``cluster_files`` output files
        ordered by (partition, *cluster_by), so each file covers a
        NARROW value range and the recorded min/max stats become
        selective — without clustering, every file spans the full
        value range and ``ranges=`` skipping prunes nothing (the
        Z-order/cluster-on-write idea at linear order; one sort
        dimension, which is the common case). Include the cluster
        columns in ``stats_cols`` or the clustering is wasted.

        Write path: per-task Arrow parquet writers (mapInArrow) into
        the staging dir — no Hadoop output-committer protocol. The
        committer's _temporary/rename dance costs a flat ~0.5 s per
        job (measured) and buys nothing here: atomicity comes from
        the MANIFEST swap, not the file layout, and a crashed stage
        leaves orphans either way (collected by vacuum). This is the
        same committer-free pattern the txsource stream writer uses,
        and it assumes the same shared filesystem the rest of the
        table protocol already requires."""
        from pyspark.sql import functions as F

        commit_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        os.makedirs(commit_dir, exist_ok=True)
        if partition_col is None:
            staged = df.withColumn(_PV, F.lit("all"))
        else:
            # one partition value per file: repartition on the value;
            # the real column stays in the file so reads need no
            # basePath reconstruction
            staged = df.withColumn(_PV, F.col(partition_col).cast("string"))
        if cluster_by:
            staged = staged.repartitionByRange(
                cluster_files,
                F.col(_PV),
                *[F.col(c) if isinstance(c, str) else c for c in cluster_by],
            )
            # range-clustered rewrites want ~one file per range split:
            # sort within partitions so each task's arrow writer sees
            # its narrow (pv, cluster) slice in order
            staged = staged.sortWithinPartitions(
                F.col(_PV),
                *[F.col(c) if isinstance(c, str) else c for c in cluster_by],
            )
        elif partition_col is not None:
            # co-locate partition values; ``shuffle_tasks`` caps the
            # stage width for KNOWN-SMALL frames (state-merge
            # deltas). One task may carry several values — the arrow
            # writer splits per value either way, so the
            # file-per-partition manifest contract holds. Measured
            # NO local[32] effect (empty-task scheduling is ~free in
            # one JVM); the cap exists for the cluster shape, where
            # every tiny merge otherwise ships shuffle-partitions
            # empty tasks through the driver's scheduler.
            if shuffle_tasks is not None:
                staged = staged.repartition(shuffle_tasks, F.col(_PV))
            else:
                staged = staged.repartition(F.col(_PV))

        def _write_task(batches):
            import os as _os
            import uuid as _u
            from urllib.parse import quote as _q

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            writers: dict = {}
            try:
                for batch in batches:
                    tbl = pa.Table.from_batches([batch])
                    pv_col = tbl.column(_PV)
                    data = tbl.drop_columns([_PV])
                    for pv in pc.unique(pv_col).to_pylist():
                        if pv is None:
                            raise ValueError(
                                "null partition values are not "
                                "supported: the manifest keys "
                                "partitions by str(value), which "
                                "cannot round-trip null"
                            )
                        sub = data.filter(pc.equal(pv_col, pv))
                        w = writers.get(pv)
                        if w is None:
                            path = _os.path.join(
                                commit_dir,
                                f"{_q(pv, safe='')}-{_u.uuid4().hex}"
                                ".parquet",
                            )
                            w = (pq.ParquetWriter(path, sub.schema), path)
                            writers[pv] = w
                        w[0].write(sub)
            finally:
                for w, _ in writers.values():
                    w.close()
            if writers:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([p for _, (_, p) in writers.items()]),
                        pa.array([pv for pv in writers]),
                    ],
                    names=["path", "partition"],
                )

        staged_entries = staged.mapInArrow(
            _write_task, "path string, partition string"
        ).collect()
        entries = []
        for r in staged_entries:
            entry = {
                "path": r["path"],
                "partition": r["partition"],
                "bytes": os.path.getsize(r["path"]),
                "rows": _footer_rows(r["path"]),
            }
            if stats_cols:
                entry["stats"] = _footer_stats(r["path"], stats_cols)
            entries.append(entry)
        return entries

    def meta(self, version: int | None = None) -> dict:
        """Free-form sidecar metadata carried by the snapshot (e.g.
        the ANN codebook sidecar path streaming/annindex.py maintains).
        Keys persist across commits until overridden."""
        return self.manifest(version).get("meta", {})

    def commit(
        self,
        adds: list[dict],
        remove_partitions: set | None = None,
        batch_id: str | None = None,
        expected_version: int | None = None,
        meta: dict | None = None,
    ) -> int:
        """Atomically publish the next version: live set = (previous
        minus ``remove_partitions``) plus ``adds``; ``batch_id`` joins
        the applied set in the same swap, and ``meta`` keys override
        the carried-forward metadata dict in the same swap. Raises
        ``CommitConflict`` if someone else published first."""
        os.makedirs(self.log_dir, exist_ok=True)
        # A staging that outlived a concurrent vacuum's grace window
        # has had its files unlinked; publishing the manifest anyway
        # would turn that race into SILENT data loss surfaced only at
        # read time. Fail loudly at the swap instead — the caller can
        # re-stage (the state it staged from is still intact).
        missing = [a["path"] for a in adds if not os.path.exists(a["path"])]
        if missing:
            raise StagedFilesMissing(
                "staged files vanished before commit (swept by a "
                f"concurrent vacuum whose grace window elapsed?): "
                f"{missing[:3]}{'…' if len(missing) > 3 else ''}"
            )
        base_v = self.latest_version()
        if expected_version is not None and base_v != expected_version:
            raise CommitConflict(
                f"expected v{expected_version}, found v{base_v}"
            )
        base = self.manifest(base_v)
        drop = {_pv_str(p) for p in (remove_partitions or set())}
        files = [f for f in base["files"] if f["partition"] not in drop]
        files += adds
        # arrival-ordered ring (newest last); oldest fall off under a
        # truncation counter once the ring is full
        batch_ids = [b for b in base["batch_ids"] if b != batch_id]
        if batch_id:
            batch_ids.append(batch_id)
        dropped = base.get("batch_ids_dropped", 0)
        if len(batch_ids) > self.max_batch_ids:
            cut = len(batch_ids) - self.max_batch_ids
            batch_ids = batch_ids[cut:]
            dropped += cut
        new_meta = dict(base.get("meta", {}))
        new_meta.update(meta or {})
        new_v = (base_v if base_v is not None else -1) + 1
        # schema anchor: the newest commit that ADDED files defines
        # the snapshot schema; a pure-delete commit carries the
        # previous anchor forward (if it survived the delete).
        # Adding/dropping columns is valid evolution; CHANGING a
        # column's type is not (pinned reads of old files would fail
        # or corrupt) — reject it here, at commit time, like Delta.
        schema_file = base.get("schema_file")
        if adds:
            if schema_file and os.path.exists(schema_file):
                _check_type_compatible(schema_file, adds[0]["path"])
            schema_file = adds[0]["path"]
        elif schema_file and not any(
            f["path"] == schema_file for f in files
        ):
            schema_file = None
        manifest = {
            "version": new_v,
            "files": files,
            "batch_ids": batch_ids,
            "removed_partitions": sorted(drop),
            "batch_ids_dropped": dropped,
            "schema_file": schema_file,
            "meta": new_meta,
        }
        tmp = os.path.join(self.log_dir, f"_tmp_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(self.log_dir, _fmt_version(new_v))
        try:
            os.link(tmp, final)  # put-if-absent: EEXIST = lost the race
        except FileExistsError as exc:
            raise CommitConflict(f"version {new_v} already committed") from exc
        finally:
            os.unlink(tmp)
        self._write_hint(new_v)
        return new_v

    # ---- maintenance ----------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
        partition_col: str | None = None,
        stats_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_files: int = 8,
    ) -> int:
        """Merge partitions that have accumulated ≥ ``min_files`` data
        files (every mergeable-state commit adds one file per touched
        partition — the classic streaming small-file problem) back to
        one file each. Pure metadata transaction: rewritten rows are
        staged then swapped in atomically, readers at any point see
        either layout, never a mix. Returns partitions compacted.

        ``partition_col`` names the real data column the table is
        partitioned by (compaction re-stages per-partition); None for
        unpartitioned tables.

        ``cluster_by`` makes this a CLUSTERING compaction: instead of
        one file per partition, the rewritten rows are range-split
        into ``cluster_files`` files ordered by the cluster columns,
        so subsequent ``ranges=`` reads skip the files whose stats
        can't match — compaction is the natural (and only) moment to
        buy that layout, since it already pays the rewrite. When
        clustering, every live partition is rewritten (min_files is
        ignored): a half-clustered table would silently degrade
        skipping back to scan-everything."""
        from collections import Counter

        counts = Counter(f["partition"] for f in self.live_files())
        if cluster_by:
            crowded = set(counts)
        else:
            crowded = {p for p, n in counts.items() if n >= min_files}
        if not crowded:
            return 0
        base_v = self.latest_version()
        df = self.read(spark, version=base_v, partitions=crowded)
        if partition_col is None and not cluster_by:
            df = df.coalesce(1)  # unpartitioned: collapse to one file
        adds = self.stage_files(
            df,
            partition_col,
            stats_cols=stats_cols,
            cluster_by=cluster_by,
            cluster_files=cluster_files,
        )
        self.commit(
            adds, remove_partitions=crowded, expected_version=base_v
        )
        return len(crowded)

    def vacuum(self, retain_versions: int = 1, grace_s: float = 0.0) -> int:
        """Delete data files unreferenced by the newest
        ``retain_versions`` manifests (crashed-write orphans and
        expired time-travel versions). Returns files deleted.

        ``grace_s``: skip NEVER-REFERENCED files (data AND sidecars)
        with recent write activity. REQUIRED when a concurrent writer
        may exist: a writer that has STAGED its parquet but not yet
        committed its manifest is indistinguishable from a
        crashed-write orphan, and deleting it makes the imminent
        commit publish a manifest pointing at a missing file — a
        freshly-staged forget tombstone would be silently dropped.
        Data files are judged per commit dir by the NEWEST file in it
        (one staging = one dir; a long staging's earliest file can age
        past the window while the write is in flight), sidecars per
        file. Files referenced by a PRUNED manifest are provably
        committed history, never in-flight, so those delete
        immediately regardless of age. The window must exceed a
        writer's worst-case stall between its last staged byte and
        its commit. The default 0 is only safe single-writer
        (maintenance windows, tests)."""
        import time as _time

        cutoff = _time.time() - grace_s
        latest = self.latest_version()
        if latest is None:
            return 0
        keep_versions = range(max(0, latest - retain_versions + 1), latest + 1)
        keep = {
            f["path"] for v in keep_versions for f in self.manifest(v)["files"]
        }
        # paths referenced by manifests ABOUT to be pruned: committed
        # history, safe to delete with no grace (read before unlink)
        dropped: set[str] = set()
        dropped_sidecars: set[str] = set()
        for f in os.listdir(self.log_dir):
            if f.endswith(".json") and f[:-5].isdigit():
                if int(f[:-5]) < keep_versions.start:
                    m = self.manifest(int(f[:-5]))
                    dropped.update(fl["path"] for fl in m["files"])
                    dropped_sidecars.update(
                        os.path.realpath(v2)
                        for v2 in m.get("meta", {}).values()
                        if isinstance(v2, str)
                    )
                    os.unlink(os.path.join(self.log_dir, f))
        deleted = 0
        # sidecars (e.g. ANN codebooks) referenced by retained
        # manifests; compare by realpath so a table rooted at a
        # relative or non-canonical path still protects its live
        # sidecar (exact-string/isabs matching would delete it and
        # leave the manifest pointing at a missing file)
        keep_sidecars = {
            os.path.realpath(v2)
            for v in keep_versions
            for v2 in self.manifest(v).get("meta", {}).values()
            if isinstance(v2, str)
        }
        def _in_grace(p: str) -> bool:
            if grace_s <= 0:
                return False
            try:
                return os.path.getmtime(p) >= cutoff
            except OSError:  # vanished concurrently — nothing to delete
                return True

        sidecar_dir = os.path.join(self.root, "sidecar")
        if os.path.isdir(sidecar_dir):
            for n in os.listdir(sidecar_dir):
                p = os.path.join(sidecar_dir, n)
                rp = os.path.realpath(p)
                if rp not in keep_sidecars and (
                    rp in dropped_sidecars or not _in_grace(p)
                ):
                    os.unlink(p)
                    deleted += 1
        if not os.path.isdir(self.data_dir):
            return deleted  # sidecar deletions above still count
        for commit_dir in os.listdir(self.data_dir):
            cdir = os.path.join(self.data_dir, commit_dir)
            # grace is judged per COMMIT DIR (one staging = one dir),
            # by its NEWEST file: a long multi-partition staging keeps
            # appending files, so its earliest parquet can age past
            # the window while the write is still in flight — per-file
            # mtime would unlink it. Any recent activity in the dir
            # protects the whole staging. (A writer that stalls longer
            # than grace_s between its LAST staged byte and its commit
            # is still exposed — grace_s must exceed that gap.)
            dir_in_grace = False
            if grace_s > 0:
                paths = [
                    os.path.join(dp, n)
                    for dp, _, ns in os.walk(cdir)
                    for n in ns
                ]
                dir_in_grace = any(_in_grace(p) for p in paths)
            for dirpath, _, names in os.walk(cdir):
                for n in names:
                    p = os.path.join(dirpath, n)
                    if (
                        n.endswith(".parquet")
                        and p not in keep
                        and (p in dropped or not dir_in_grace)
                    ):
                        os.unlink(p)
                        deleted += 1
            if not any(
                n.endswith(".parquet")
                for _, _, ns in os.walk(cdir)
                for n in ns
            ):
                shutil.rmtree(cdir, ignore_errors=True)
        return deleted


def merge_grouped_sums(
    spark: SparkSession,
    delta: DataFrame,
    table: TxTable,
    key_cols: list[str],
    sum_cols: list[str],
    partition_col: str,
    batch_id: str | None = None,
    meta: dict | None = None,
) -> bool:
    """Generic mergeable-aggregate refresh over a TxTable — the
    continuous-aggregate pattern (jobs/rollup.py) with arbitrary group
    keys: ``delta`` rows (already aggregated to ``key_cols`` ×
    ``sum_cols``) merge into the stored state, rewriting ONLY the
    partitions the delta touches, and the commit carries ``batch_id``
    so replays are detected no-ops (returns False for a skipped
    replay, True when the merge applied or the delta was empty).

    Used by streaming/funnel.py for its vocab and survivor-count
    state; any mergeable statistic (counts, sums, decimal exact-sums)
    fits. Non-mergeable metrics (avg, quantiles) must be derived at
    read time from mergeable parts.
    """
    prep = prepare_grouped_sums(
        spark, delta, table, key_cols, sum_cols, partition_col, batch_id
    )
    if prep is False:
        return False
    if prep is True:
        return True
    commit_grouped_sums(table, prep, batch_id, meta=meta)
    return True


def prepare_grouped_sums(
    spark: SparkSession,
    delta: DataFrame,
    table: TxTable,
    key_cols: list[str],
    sum_cols: list[str],
    partition_col: str,
    batch_id: str | None = None,
):
    """The read-merge-STAGE phase of ``merge_grouped_sums``, split out
    so a caller with commit-ORDER constraints can overlap the
    expensive staging of several tables and still publish their
    commits in the required sequence (staged files are invisible
    until commit). Returns False for a detected replay, True for an
    empty delta, else an opaque prep handle for
    ``commit_grouped_sums``."""
    base_v = table.latest_version()
    if batch_id is not None and table.is_applied(batch_id, base_v):
        return False
    # Small-delta fast path: state deltas are usually metadata-sized
    # (per-source counts, per-term batch vocabularies), and the
    # general path bills them 3 Spark jobs (checkpoint materialize,
    # touched-partition distinct, merge write). One bounded collect
    # answers the first two AND pins the delta against recompute
    # nondeterminism harder than a checkpoint does (driver copy).
    # Genuinely large deltas take the original checkpointed path.
    _SMALL = 20_000
    head = delta.limit(_SMALL + 1).collect()
    if len(head) <= _SMALL:
        return prepare_grouped_sums_rows(
            spark,
            [r.asDict() for r in head],
            delta.schema,
            table,
            key_cols,
            sum_cols,
            partition_col,
            base_v=base_v,
            small_rows=_SMALL,
        )
    else:
        inc = delta.localCheckpoint(eager=True)
        touched = {
            r[0] for r in inc.select(partition_col).distinct().collect()
        }
        if not touched:
            return True
    existing = table.read(spark, version=base_v, partitions=touched)
    if existing is None:
        merged = inc
    else:
        from pyspark.sql import functions as F

        merged = (
            existing.unionByName(inc)
            .groupBy(partition_col, *key_cols)
            .agg(*[F.sum(c).cast("long").alias(c) for c in sum_cols])
        )
    adds = table.stage_files(merged, partition_col)
    return (adds, touched, base_v)


def prepare_grouped_sums_rows(
    spark: SparkSession,
    head: list[dict],
    schema,
    table: TxTable,
    key_cols: list[str],
    sum_cols: list[str],
    partition_col: str,
    base_v: int | None = None,
    small_rows: int = 20_000,
):
    """``prepare_grouped_sums`` for a delta the caller ALREADY holds
    as driver rows (r13): a composed pipeline step that derives
    several small state deltas from one bounded collect (e.g. the
    curation chain's per-source counts folding out of the histogram
    delta rows) merges each without re-running a Spark collect per
    table — zero Spark jobs on the driver-sized path. ``head`` rows
    are plain dicts covering ``schema``'s columns; the caller is
    responsible for the replay (``is_applied``) check when it
    resolves ``base_v`` itself. Falls back to the distributed merge
    path (rows re-enter Spark through an Arrow local frame) when the
    touched state exceeds the driver bound."""
    if base_v is None:
        base_v = table.latest_version()
    if not head:
        return True
    head_dicts = head
    touched = {r[partition_col] for r in head_dicts}
    # Sizing for the WRITTEN frame (touched-partition state plus
    # the delta, from manifest footer counts), not the delta
    # alone: a tiny delta against a large accumulated state must
    # take the distributed path.
    small = True
    state_files: list[dict] = []
    state_rows = 0
    touched_strs = {_pv_str(t) for t in touched}
    for f in table.manifest(base_v)["files"]:
        if f["partition"] in touched_strs:
            r = f.get("rows")
            if r is None:
                small = False  # unknown → assume large
                break
            state_rows += r
            state_files.append(f)
    if small and state_rows + len(head_dicts) <= small_rows:
        # Fully driver-side merge + stage — ZERO Spark jobs (r11:
        # the curation floor study measured ~1 s of pure job
        # overhead per staged state table at metadata scale; see
        # stage_rows_local). Read the touched partition files
        # with pyarrow, fold the delta in, write the new
        # partition files on the driver. Exactly the distributed
        # semantics: groupBy(partition, keys) SUM over existing ∪
        # delta when state exists; the delta passes through
        # untouched when it doesn't (the merged=inc branch).
        from pyspark.sql import types as T

        if not state_files:
            adds = table.stage_rows_local(
                head_dicts, schema, partition_col
            )
            return (adds, touched, base_v)
        import pyarrow.parquet as _pq

        cols = [partition_col, *key_cols]
        acc: dict[tuple, list] = {}
        seen: dict[tuple, list] = {}

        def _fold(r: dict) -> None:
            k = tuple(r[c] for c in cols)
            a = acc.setdefault(k, [0] * len(sum_cols))
            s = seen.setdefault(k, [False] * len(sum_cols))
            for i, c in enumerate(sum_cols):
                v = r.get(c)
                if v is not None:
                    a[i] += v
                    s[i] = True

        for f in state_files:
            for r in _pq.read_table(f["path"]).to_pylist():
                _fold(r)
        for r in head_dicts:
            _fold(r)
        out_schema = T.StructType(
            [schema[partition_col]]
            + [schema[k] for k in key_cols]
            + [T.StructField(c, T.LongType()) for c in sum_cols]
        )
        rows = [
            {
                **dict(zip(cols, k)),
                **{
                    c: (a[i] if seen[k][i] else None)
                    for i, c in enumerate(sum_cols)
                },
            }
            for k, a in acc.items()
        ]
        adds = table.stage_rows_local(rows, out_schema, partition_col)
        return (adds, touched, base_v)
    # touched state too large for the driver: the rows re-enter Spark
    # through an Arrow local frame (no Python-worker scan) and take
    # the distributed merge path
    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark.operators.localframe import local_frame

    inc = local_frame(spark, head_dicts, schema)
    existing = table.read(spark, version=base_v, partitions=touched)
    if existing is None:
        merged = inc
    else:
        merged = (
            existing.unionByName(inc)
            .groupBy(partition_col, *key_cols)
            .agg(*[F.sum(c).cast("long").alias(c) for c in sum_cols])
        )
    adds = table.stage_files(merged, partition_col)
    return (adds, touched, base_v)


def merge_grouped_sums_rows(
    spark: SparkSession,
    head: list[dict],
    schema,
    table: TxTable,
    key_cols: list[str],
    sum_cols: list[str],
    partition_col: str,
    batch_id: str | None = None,
    meta: dict | None = None,
) -> bool:
    """``merge_grouped_sums`` for a delta already held as driver rows
    (see ``prepare_grouped_sums_rows``): replay-checked, zero Spark
    jobs on the driver-sized path."""
    base_v = table.latest_version()
    if batch_id is not None and table.is_applied(batch_id, base_v):
        return False
    prep = prepare_grouped_sums_rows(
        spark, head, schema, table, key_cols, sum_cols, partition_col,
        base_v=base_v,
    )
    if prep in (True, False):
        return bool(prep)
    commit_grouped_sums(table, prep, batch_id, meta=meta)
    return True


def commit_grouped_sums(
    table: TxTable, prep, batch_id: str | None, meta: dict | None = None
) -> None:
    """Publish a ``prepare_grouped_sums`` result atomically."""
    adds, touched, base_v = prep
    table.commit(
        adds,
        remove_partitions=touched,
        batch_id=batch_id,
        expected_version=base_v,
        meta=meta,
    )


def zorder_key(
    cols: list[str],
    mins: dict[str, int],
    maxs: dict[str, int],
    bits: int = 16,
):
    """Morton (Z-order) key column for multi-dimension clustering.

    Linear ``cluster_by=[a]`` makes stats selective on ``a`` only; a
    range read on ``b`` still hits every file. Interleaving the bits
    of each dimension's normalized rank gives every dimension
    ~``bits/len(cols)`` effective prefix bits of locality, so range
    reads on ANY clustered column skip files — the standard Z-order
    trade (each dim's skipping is weaker than a dedicated sort, but
    no dim is abandoned).

    ``mins``/``maxs`` fix the normalization domain. They must come
    from the caller (e.g. manifest stats: min/max over
    ``live_files``) because the key must be a DETERMINISTIC pure
    column — deriving the domain inside the expression would make
    staging nondeterministic under retries. Values are normalized to
    ``bits``-bit integers by linear scaling; ties/overflow clamp.

    Usage::

        lo, hi = table.column_domain(["a", "b"])   # manifest stats
        table.compact(spark, stats_cols=["a", "b"],
                      cluster_by=[zorder_key(["a", "b"], lo, hi)])

    (``compact``/``stage_files`` accept Column objects as well as
    names.)
    """
    from pyspark.sql import functions as F

    # the interleave must fit a SIGNED 64-bit long: shifts reaching
    # bit 63 flip the sign (range partitioning then orders high
    # values FIRST) and beyond 63 Java shift semantics wrap mod 64,
    # silently colliding bits. Cap the per-dim width instead.
    max_bits = 62 // len(cols)
    if bits > max_bits:
        bits = max_bits

    def norm(c: str):
        lo, hi = mins[c], maxs[c]
        span = max(1, hi - lo)
        scaled = ((F.col(c) - F.lit(lo)) * F.lit((1 << bits) - 1)) / F.lit(span)
        return F.least(
            F.lit((1 << bits) - 1),
            F.greatest(F.lit(0), F.floor(scaled).cast("long")),
        )

    parts = [norm(c) for c in cols]
    z = F.lit(0).cast("long")
    # interleave: output bit (i*len + j) takes bit i of dimension j
    for i in range(bits):
        for j, p in enumerate(parts):
            bit = F.shiftright(p, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.shiftleft(bit, i * len(parts) + j).cast("long")
            )
    return z.alias("_zorder")


def check_gate_config(table: TxTable, cfg: dict, what: str) -> dict:
    """Shared registry-compatibility guard for every incremental gate
    (text MinHash, embedding, image, audio): raise BEFORE any batch
    work when the persisted registry was written under a different
    gate configuration — band layouts, permutation constants, and
    verdict thresholds all change probe keys or outcomes, so an
    incompatible registry would silently pass known near-dups rather
    than error. Writers stamp ``{"gate_config": cfg}`` into the
    commit meta (carried forward by every later commit); an unstamped
    non-empty registry is rejected too, since its compatibility
    cannot be verified. Returns ``cfg`` for the caller to stamp."""
    v = table.latest_version()
    if v is None:
        return cfg
    stamped = table.meta(v).get("gate_config")
    if stamped is None:
        raise ValueError(
            f"{what} registry predates gate-config stamping — its "
            "layout cannot be verified as probe-compatible; rebuild "
            "the registry"
        )
    if stamped != cfg:
        raise ValueError(
            f"{what} registry gate config {stamped} != current "
            f"{cfg}: probes would silently mismatch — one gate "
            "configuration per registry"
        )
    return cfg


def stamp_gate_config(table: TxTable, cfg: dict, what: str) -> bool:
    """One-time migration for a registry that predates gate-config
    stamping (``check_gate_config`` hard-rejects those, ADVICE r5/r6:
    previously the only way forward was a full rebuild). The OPERATOR
    asserts ``cfg`` is the configuration the existing rows were
    written under — that claim is theirs to get right, which is why
    this is an explicit helper and not an ``allow_unstamped`` bypass
    on the probe path — and it is stamped with a metadata-only commit
    pinned to the inspected version. Returns True when a stamp was
    written; False for an empty registry or one already stamped with
    this exact cfg (idempotent). Raises when a DIFFERENT cfg is
    already stamped: restamping would launder a real
    incompatibility."""
    v = table.latest_version()
    if v is None:
        return False
    stamped = table.meta(v).get("gate_config")
    if stamped == cfg:
        return False
    if stamped is not None:
        raise ValueError(
            f"{what} registry already stamped with {stamped} != "
            f"{cfg}; refusing to restamp — an incompatible registry "
            "must be rebuilt, not relabeled"
        )
    table.commit([], expected_version=v, meta={"gate_config": cfg})
    return True
