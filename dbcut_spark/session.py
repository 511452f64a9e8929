"""SparkSession factory tuned for the test harness (local[N]) while
keeping settings that scale to a real cluster.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- shuffle.partitions defaults to the local core count here; on a real
  cluster this should be ~2-3x total executor cores (AQE coalesces down).
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_driver_memory(physical_bytes: int) -> str:
    """Driver heap default: half of physical memory, at most 48g. A
    fixed 48g heap on a smaller machine lets a long-lived local JVM
    grow until the machine kills it."""
    return f"{min(48 * 1024, physical_bytes // 2 // 2**20)}m"


def get_spark(
    app_name: str = "dbcut_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (harness contract) or '*'.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", None) else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM")
            or default_driver_memory(
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # harness testdata stores ns-precision timestamps; read them as
        # long and convert in sources.parquet.read_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # µs-precision (isAdjustedToUTC=false) timestamps must read as the
        # classic TimestampType, not TIMESTAMP_NTZ — one timestamp type
        # everywhere (see sources.parquet.read_table)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as INT64 micros, not the deprecated INT96:
        # INT96 column chunks carry NO footer statistics, which blinds
        # the manifest file-skipping layer (sinks/manifest.py stats_cols)
        # on every timestamp column — at 100 TB that is the difference
        # between pruning time-ordered commits and scanning all of them
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
    """Load the harness parquet tables as a dict of DataFrames."""
    from dbcut_spark.catalog import TPCH_TABLES

    from dbcut_spark.sources.parquet import read_table

    names = tables or list(TPCH_TABLES)
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            # read_table, not raw spark.read.parquet: it applies the
            # ns->long and NTZ/timezone normalizations every other
            # reader path gets — a vanilla session otherwise hands back
            # TIMESTAMP_NTZ frames that window()/unix_micros() reject
            out[name] = read_table(spark, sf_dir, name)
    return out
