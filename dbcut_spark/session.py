"""SparkSession factory tuned for the test harness (local[N]) while
keeping settings that scale to a real cluster.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- shuffle.partitions defaults to the local core count here; on a real
  cluster this should be ~2-3x total executor cores (AQE coalesces down).
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- The JVM-wide cache of compiled generated classes holds
  ``CODEGEN_CACHE_ENTRIES`` (4096), not Spark's 100: one ``query_mix``
  pass (8 queries) needs 136 distinct classes, so at 100 every pass
  evicted each class before its reuse and compiled it again. The whole
  registry needs 2,531; an entry costs ~16 KB (source key plus
  metaspace), ~64 MB for a full cache. Details next to the constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Entries of the JVM-wide generated-class cache
# (spark.sql.codegen.cache.maxEntries). Working sets of distinct
# generated classes, counted under a cap no run reached: one query_mix
# pass 136; a cut_mix run (seed 1, 25 ops) 263; the whole registry at
# sf0.1, each of its 180 queries once, 2,531 (at most 121 for one
# query, 1,098 for the 106 of perfbench/query_pool.json). An entry
# holds ~7.5 KB of generated source as its key (68 KB at most) plus
# ~8 KB of metaspace, so a full cache costs ~64 MB at worst. After 5
# query_mix passes metaspace was 152 MB with this cap against 156 MB at
# Spark's 100.
CODEGEN_CACHE_ENTRIES = 4096


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

    The codegen cache cap is a static conf read once per JVM, when the
    first generated class compiles, so it only takes effect here, in
    the builder: ``spark.conf.set`` on a live session raises for it. A
    JVM whose first compile ran under a session the engine did not
    build keeps Spark's 100 entries.
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def compiled_classes() -> int:
    """Generated classes compiled so far in this process's JVM (0 before
    it starts): one py4j read of Spark's ``CodegenMetrics``, no job."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        return 0
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


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
