"""Parquet source (reference S1/S6 analogue for the test harness).

Handles one impedance mismatch: parquet files with TIMESTAMP(NANOS)
columns (written by pyarrow with default ns precision) are illegal for
Spark's vectorized reader. With ``spark.sql.legacy.parquet.nanosAsLong``
those columns arrive as bigint nanos; :func:`read_table` detects them
from the parquet footer and converts to proper timestamps
(``timestamp_micros(ns div 1000)`` — truncation, same as DuckDB's
ns→µs conversion, so oracle comparisons agree).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _nanos_columns(path: str) -> tuple[str, ...]:
    """Column names stored as TIMESTAMP(NANOS) in the parquet footer.
    Cached per (resolved file, mtime) — NOT per path alone: a table
    rewritten at the same path inside one session (compaction, test
    harness regeneration) would otherwise serve stale footer metadata,
    either failing the read or silently leaving an ns column as raw
    bigint (round-10 review)."""
    f = _one_file(path)
    try:
        mtime = os.stat(f).st_mtime_ns
    except OSError:
        mtime = 0
    return _nanos_columns_cached(f, mtime)


@lru_cache(maxsize=256)
def _nanos_columns_cached(one_file: str, _mtime_ns: int) -> tuple[str, ...]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(one_file)
    out = []
    for field in schema:
        t = field.type
        if str(t) in ("timestamp[ns]", "timestamp[ns, tz=UTC]"):
            out.append(field.name)
    return tuple(out)


@lru_cache(maxsize=256)
def _timestamp_columns(path: str) -> tuple[str, ...]:
    """Column names with any timestamp type in the parquet footer."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(_one_file(path))
    return tuple(f.name for f in schema if str(f.type).startswith("timestamp"))


def _one_file(path: str) -> str:
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                return os.path.join(path, f)
    return path


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    file_schemas: dict[str, StructType] | None = None,
) -> DataFrame:
    """Read one source table with the timestamp normalizations below.

    ``file_schemas`` memoizes each table's raw file schema (before the
    ns→µs conversion): the first read of a table infers it, which costs
    a Spark job, and records it; later reads pass it to
    ``spark.read.schema`` and run no job. Without it every read infers."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if _nanos_columns(path):
        # Runtime-settable; must NOT rely on session-builder config — the
        # correctness harness passes a vanilla SparkSession, and without
        # this the read throws PARQUET_TYPE_ILLEGAL before the
        # normalization below can run.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if _timestamp_columns(path):
        # µs-precision parquet timestamps (isAdjustedToUTC=false) would
        # infer as TIMESTAMP_NTZ on Spark 3.4+, which unix_micros()/
        # window() reject and which diverges from the ns path above
        # (timestamp_micros → LTZ). Force the classic TimestampType so
        # every downstream operator sees one timestamp type regardless of
        # the file's physical precision.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Reading NTZ micros as classic TimestampType is wall-clock-
        # preserving only when the session timezone is UTC; get_spark()
        # pins it at construction, but the harness's vanilla session
        # inherits the machine zone — pin it here so hour/date/window
        # results match the naive DuckDB oracle timestamps. A set-and-
        # restore wrapper would NOT work: DataFrames are lazy, and the
        # conf must still be UTC when an action finally evaluates the
        # expressions. Scoped to timestamp-bearing tables so zone-free
        # workloads never observe the mutation; sessions built by
        # get_spark() are UTC already, making this a no-op there.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if file_schemas is None:
        df = spark.read.parquet(path)
    elif name in file_schemas:
        df = spark.read.schema(file_schemas[name]).parquet(path)
    else:
        df = spark.read.parquet(path)
        file_schemas[name] = df.schema
    for col in _nanos_columns(path):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def estimate_row_count(path: str) -> int:
    """Row count from parquet footer metadata only — no data scan, no
    Spark job. The parquet-mode analogue of the reference's estimated
    counts from ``information_schema.tables.table_rows``
    (``/root/reference/dbcut/database.py:329-338``): footer counts are
    exact for immutable files but cost O(files), not O(rows)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # RECURSIVE: hive-partitioned tables keep their part-files
        # under col=value/ subdirectories — a depth-1 listing counted
        # them as 0 rows, and the closure routing treats rows(T)=0 as
        # the cheapest broadcastability proof, force-broadcasting a
        # billion-row partitioned table (round-10 review)
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows
