"""Schema-explicit readers for every format the reference ingests.

Reference ingestion surface (SURVEY.md §2.1): SQLite scan (S1), RDS
shards over HTTP (S5), hosted loader tables (S6), CSV local/URL (S7),
JSON REST (S8), HTML scrape (S9). In the Spark engine:

- columnar tables → parquet reads (catalog.py),
- CSV/JSON → these readers, schema REQUIRED (inferSchema is a full
  extra scan at 100 TB and silently drifts types between loads —
  the reference's dbWriteTable-inference fragility, fixed),
- HTTP/HTML fetching is an *edge* concern: connectors run outside
  the cluster and land files/fixtures; the engine reads those. The
  scrape work-plan (expand.grid, S12) is a crossJoin job; the
  per-element fetch (U5) is modeled as a mapInPandas over the plan
  for deployments whose fetch may legally run on executors.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, **options
) -> DataFrame:
    """CSV with explicit schema — S7 (`read_csv(url(...))`,
    R/epa_predict.R:26,116,143)."""
    return (
        spark.read.schema(schema)
        .options(header=True, mode="PERMISSIVE", **options)
        .csv(path)
    )


def parse_json_column(
    df: DataFrame, col: str, schema: T.DataType, out: str = "parsed"
) -> DataFrame:
    """REST payload landed as a string column → typed struct
    (`from_json`), the engine half of S8; `select(parsed.*)` is the
    unnest_wider (R3)."""
    return df.withColumn(out, F.from_json(F.col(col), schema))


def scrape_plan(
    spark: SparkSession, seasons: list[int], weeks: list[int]
) -> DataFrame:
    """The expand.grid work-plan generator — S12
    (pff/0_scrape.R:36-41): cross join of parameter axes."""
    from nfl_data_pipeline_spark.operators.localframe import local_frame

    s = local_frame(spark, [(x,) for x in seasons], "season int")
    w = local_frame(spark, [(x,) for x in weeks], "week int")
    return s.crossJoin(w)


def fetch_over_plan(
    plan: DataFrame,
    fetch_one: Callable[[int, int], list[dict]],
    result_schema: T.StructType,
) -> DataFrame:
    """Distributed per-element fetch — U5 (`map_df(ids, get_espn_wp)`,
    R/espn_wp.R:36-65): each plan row expands to 0..n result rows via
    mapInPandas. `fetch_one` must be a pure function of the plan row
    (tests inject a deterministic fake; production injects an HTTP
    client with retry/backoff)."""
    import pandas as pd

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [f.name for f in result_schema.fields]
        for pdf in batches:
            rows: list[dict] = []
            for season, week in zip(pdf["season"], pdf["week"]):
                rows.extend(fetch_one(int(season), int(week)))
            yield pd.DataFrame(rows, columns=cols)

    return plan.mapInPandas(_run, result_schema)


def write_table(df, path: str, fmt: str = "parquet", partition_by=None) -> None:
    """Format-agnostic sink (parquet/orc/json/csv — every format the
    local distribution ships). The reference's saveRDS/write_csv
    sinks (S10) generalized; ORC included for warehouse parity
    (columnar + predicate pushdown, same as parquet)."""
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(spark, path: str, fmt: str = "parquet", schema=None):
    """Format-agnostic scan twin of write_table. Schema optional for
    self-describing formats (parquet/orc), REQUIRED for csv/json —
    schema inference is a full extra pass at 100 TB."""
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(f"{fmt} requires an explicit schema at scale")
    if fmt == "csv":
        r = r.option("header", "true")
    return r.load(path)


def read_jsonl_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """Schema-drift-tolerant line-JSON ingestion — the production
    S8 shape: PERMISSIVE parse against the declared schema with the
    corrupt-record column captured, split into (typed good rows,
    quarantine). Malformed lines and type-violating documents land in
    the quarantine frame with their raw text and source file instead
    of failing the job or silently nulling out; the good frame
    carries exactly the declared schema.

    Spark resolves the corrupt column lazily and refuses a filter
    that references ONLY it (a query over just the internal column
    would skip parsing entirely) — the documented contract is to
    materialize first. The parse materializes through an eager
    localCheckpoint rather than cache(): both splits read the same
    materialized blocks, and checkpoint blocks are released by the
    ContextCleaner when the frames are garbage collected — a cache()
    would pin executor memory until an unpersist() this API gives the
    caller no handle for.
    """
    corrupt = "_corrupt_record"
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt, T.StringType())]
    )
    parsed = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
        # capture lineage BEFORE materializing: input_file_name()
        # binds to the scan, and a materialized relation has none
        .withColumn("_source_file", F.input_file_name())
        .localCheckpoint(eager=True)
    )
    good = parsed.filter(F.col(corrupt).isNull()).drop(
        corrupt, "_source_file"
    )
    quarantine = parsed.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw"),
        F.col("_source_file").alias("source_file"),
    )
    return good, quarantine
