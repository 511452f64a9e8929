"""Parquet source (reference S1/S6 analogue for the test harness).

Every source read (closure loader, registry queries,
``session.load_tables``, CLI) goes through :func:`read_table` and one
process-wide memo, keyed by the table's file identity: the path, size
and ``mtime_ns`` of every visible data file, found recursively under
Spark's hidden-path rule (:func:`data_files`). Per key it holds the
first data file's pyarrow footer facts (timestamp and TIMESTAMP(NANOS)
columns) and the Spark-inferred file schema per value of the confs
that change inference (``_SCHEMA_CONFS``). The first read of a key
infers (one Spark job); later reads pass the schema to
``spark.read.schema`` (no job). Adding, removing or rewriting a data
file changes the key. The values depend only on file bytes and confs,
so nothing is released; like the ``lru_cache`` it is, the memo keeps
the 256 most recently read tables and is safe under concurrent callers.

TIMESTAMP(NANOS) columns (pyarrow's default precision) are illegal for
Spark's vectorized reader: with ``spark.sql.legacy.parquet.nanosAsLong``
they arrive as bigint nanos and :func:`read_table` converts them
(``timestamp_micros(ns div 1000)`` — truncation, same as DuckDB's
ns→µs conversion, so oracle comparisons agree).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import lru_cache
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# confs that change the schema Spark infers from the same files
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)


@dataclass
class _Facts:
    timestamps: tuple[str, ...]  # columns of any timestamp type
    nanos: tuple[str, ...]  # of those, stored as TIMESTAMP(NANOS)
    # schema-conf values -> Spark-inferred file schema
    schemas: dict[tuple, StructType] = field(default_factory=dict)


def _visible(name: str) -> bool:
    """Spark's hidden-path rule: ``.x`` and ``_x`` are not data, but a
    ``_k=v`` partition directory is."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def data_files(path: str) -> Iterator[str]:
    """The data files of the parquet table at ``path``, in sorted walk
    order, recursing into partition directories; a plain file is its
    own one data file. Lazy, so a caller that needs only the first file
    walks no further. Raises FileNotFoundError for a missing path."""
    if not os.path.isdir(path):
        os.stat(path)
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(filter(_visible, dirs))
        for f in sorted(filter(_visible, files)):
            yield os.path.join(root, f)


@lru_cache(maxsize=256)
def _memo(identity: tuple) -> _Facts:
    """The memo entry of one file identity: the footer facts of its
    first data file, and the schema map its reads fill. lru_cache is
    thread-safe: threads that miss at once may each build an entry, and
    the first one stored is kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    first_file = identity[0][0]
    ts = [f for f in pq.read_schema(first_file) if pa.types.is_timestamp(f.type)]
    return _Facts(
        tuple(f.name for f in ts), tuple(f.name for f in ts if f.type.unit == "ns")
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one source table with the timestamp normalizations below,
    inferring its file schema only on the first read of its current
    files (see the module docstring)."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    files = list(data_files(path))
    if not files:  # an empty table directory: Spark's own error
        return spark.read.parquet(path)
    facts = _memo(
        tuple((f, (st := os.stat(f)).st_size, st.st_mtime_ns) for f in files)
    )
    if facts.nanos:
        # Runtime-settable; must NOT rely on session-builder config — the
        # correctness harness passes a vanilla SparkSession, and without
        # this the read throws PARQUET_TYPE_ILLEGAL before the
        # normalization below can run.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if facts.timestamps:
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
    # one py4j call per key; getAll would convert the whole conf map
    # with a py4j call per entry
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    schema = facts.schemas.get(confs)
    if schema is None:
        df = spark.read.parquet(path)
        facts.schemas[confs] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    for col in facts.nanos:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def estimate_row_count(path: str) -> int:
    """Row count from parquet footer metadata only — no data scan, no
    Spark job. The parquet-mode analogue of the reference's estimated
    counts from ``information_schema.tables.table_rows`` (reference
    ``dbcut/database.py``): footer counts are exact for immutable files
    but cost O(files), not O(rows). The walk recurses: a
    hive-partitioned table keeps its part-files under ``col=value/``
    directories, and counting it as 0 rows would make the closure
    routing force-broadcast it."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(path))
