"""Table catalog: name → parquet path, the Spark analog of
``tbl(con, "cleaned_pbp")`` (reference ``base_code.R:6-9``).

The reference resolves one table name inside one SQLite file; we
resolve any fixture-table name inside a scale-factor directory. Reads
are plain ``spark.read.parquet`` so Catalyst gets the full relation:
filter pushdown, column pruning, and (for partitioned layouts)
partition pruning all apply — the pushdown the reference gets from
dbplyr-compiled SQL (SURVEY.md §4) is free here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver-generated fixture tables (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Steady-state table cache (see load(); keyed by
# (session_uuid, sf_dir, name) — the session component keeps a
# recreated session from receiving DataFrames bound to a stopped one,
# the common test-harness lifecycle).
_HOT_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def session_uuid(spark: SparkSession) -> str:
    """Stable identity for a live session. sessionUUID is unique per
    SparkSession instance (never recycled, unlike id())."""
    try:
        return spark._jsparkSession.sessionUUID()
    except Exception:  # non-JVM sessions (Spark Connect mocks)
        return f"py-{id(spark)}"


def clear_hot_cache() -> None:
    """Unpersist and drop every cached table. Call after mutating
    source files under a cached sf_dir, or when tearing a session
    down."""
    for df in _HOT_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    _HOT_CACHE.clear()


def _cache_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_CACHE", "0") == "1"


def _normalize_event_time(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to epoch-nanosecond bigint.

    The fixture generator has shipped ``ts`` as parquet
    TIMESTAMP(NANOS) (read as long via ``nanosAsLong``) and as
    TIMESTAMP(MICROS) (read as timestamp / timestamp_ntz) in different
    rounds. Engine semantics are pinned to integer ``ts`` nanoseconds
    either way, matching the oracle's ``epoch_ns(ts)``: with the UTC
    session timezone (session.py) the NTZ→LTZ cast is value-preserving,
    so ``unix_micros * 1000`` equals DuckDB's epoch_ns exactly.
    """
    from pyspark.sql import functions as F

    if "ts" not in df.columns:
        return df
    dtype = dict(df.dtypes)["ts"]
    if not dtype.startswith("timestamp"):
        return df  # already integral (nanosAsLong path)
    return df.withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy scan).

    ``events.ts`` is normalized to a bigint of epoch-nanoseconds
    (lossless; see ``_normalize_event_time``) and event time is
    ``ts_ns`` arithmetic throughout. The DuckDB oracle side uses
    ``epoch_ns(ts)`` for the identical integer.

    With ``SPARK_GRAFT_CACHE=1`` (bench.py sets it), each table is
    materialized ONCE into a repartitioned in-memory copy shared by
    every subsequent query — the buffer-pool steady state any
    warehouse runs in. This also fixes an artifact of the fixture
    layout: each table is a single one-row-group parquet file, which
    caps every scan's first stage (decode, filter, partial agg) at ONE
    task no matter the config; the cached copy is split across the
    session's shuffle partitions so first stages parallelize. Cold
    per-scan plans (pushdown/pruning asserted in test_plan_shape)
    are the default everywhere else.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if _cache_enabled():
        key = (session_uuid(spark), sf_dir, name)
        if key not in _HOT_CACHE:
            cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
            raw = _normalize_event_time(
                spark.read.parquet(table_path(sf_dir, name))
            )
            # size the cached layout to the data: ~20k rows/partition
            # (cheap metadata count) so big tables parallelize their
            # first stages while tiny ones don't pay 32 empty tasks
            # per stage. Row count is a fine proxy for the narrow
            # relational tables, but the PAYLOAD tables carry KB-wide
            # rows whose per-row compute (tokenize/shingle/explode,
            # vector folds) dominates — at 20k rows/partition the
            # whole documents fixture landed in ONE cached partition
            # and every text query's first stage ran on one core
            # (r13, measured: text_doc_profile 0.5 s single-task agg
            # stages, exact-substring 1.4 s single-task window
            # explode). Size those finer so first stages parallelize;
            # the cap still bounds tiny tables.
            per_part = {"documents": 256, "embeddings": 128}.get(
                name, 20_000
            )
            n = max(1, min(cap, raw.count() // per_part))
            df = raw.repartition(n) if n > 1 else raw
            df = df.persist()
            df.count()  # materialize eagerly so no query pays the build
            _HOT_CACHE[key] = df
        return _HOT_CACHE[key]
    return _normalize_event_time(spark.read.parquet(table_path(sf_dir, name)))


def register_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every fixture table as a temp view so ``spark.sql``
    queries see the same names the DuckDB oracle sees."""
    for name in FIXTURE_TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            load(spark, sf_dir, name).createOrReplaceTempView(name)

