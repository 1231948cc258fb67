"""Fixture-table loading.

The driver materializes TPC-H-ish parquet tables plus `events`, `documents`,
`embeddings` (TESTDATA.md / FIXTURES.md). This module is the single place
that knows how to read them:

- `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some fixture
  generations and naive TIMESTAMP(MICROS) (isAdjustedToUTC=false) in others.
  Both are normalized here to plain TimestampType so every downstream
  expression (`unix_micros`, windows, as-of joins) sees one type:
  nanos surface as longs under `spark.sql.legacy.parquet.nanosAsLong=true`
  and are truncated to microseconds (the same truncation DuckDB applies
  casting TIMESTAMP_NS to its microsecond TIMESTAMP); naive micros surface
  as TIMESTAMP_NTZ and are cast to TIMESTAMP, which under the session's
  pinned UTC zone is value-preserving and matches DuckDB reading the same
  column as its (naive) TIMESTAMP.

At 100 TB these reads become partitioned-table scans; nothing here collects
to the driver, and the nanos conversion is a single projected expression
(whole-stage-codegen'd, no UDF).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import sql_ident
from .session import apply_runtime_confs

TABLE_NAMES = (
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


@lru_cache(maxsize=64)
def _timestamp_columns(
    sf_dir: str, name: str
) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(nanos_cols, naive_cols) for this file (pyarrow schema probe).

    nanos_cols are stored as parquet timestamp[ns]; naive_cols are
    sub-nanosecond timestamps with no timezone (isAdjustedToUTC=false),
    which Spark 4 reads as TIMESTAMP_NTZ."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    schema = pq.read_schema(f"{sf_dir}/{name}.parquet")
    nanos = tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    naive = tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type)
        and f.type.unit != "ns"
        and f.type.tz is None
    )
    return nanos, naive


def load_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    driver: str | None = None,
    **options: str,
) -> DataFrame:
    """Generic JDBC table source (SURVEY.md §2.1 S5 — the reference reads
    five relational tables via SQL strings,
    bin/monitor_DBB_stagein.py:738,790,834,868,900).

    ``table`` is a table name or a parenthesized subquery with an alias
    (`"(SELECT ...) t"`), covering the reference's query-shaped reads.
    Filters and column projections on the returned DataFrame push down
    into the remote SQL (visible as PushedFilters on the JDBC scan node),
    so the database does the WHERE, not Spark.

    Scale: a JDBC read is ONE task unless partitioned — pass
    ``partition_column`` (a numeric/date column) with bounds and
    ``num_partitions`` to issue one bounded range query per partition.
    Bounds only split the key space; rows outside still arrive (Spark adds
    the open-ended edge predicates), so correctness never depends on them.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and num_partitions"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, restoring timestamp types as needed.

    ``sf_dir`` may also be a JDBC URL (`jdbc:...`): the table is then read
    through the generic JDBC source instead of parquet — the drop-in for
    deployments whose registry/provenance tables live in a relational DB,
    as the reference's do."""
    apply_runtime_confs(spark)
    if sf_dir.startswith("jdbc:"):
        return load_jdbc_table(spark, sf_dir, name)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    nanos, naive = _timestamp_columns(sf_dir, name)
    for col in nanos:
        # nanos → micros truncation (matches DuckDB's ns→us cast); integer
        # `div`, NOT `/` — double division rounds the low microsecond bit.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{sql_ident(col)} div 1000")))
    for col in naive:
        # TIMESTAMP_NTZ → TIMESTAMP: value-preserving under the session's
        # pinned UTC zone, and what DuckDB sees for the same naive column.
        df = df.withColumn(col, F.col(sql_ident(col)).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
